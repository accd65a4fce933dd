"""Stage 5 — connected components over the verified edge list (maps A6:
traverse()/connectivity() BFS labeling, src/divGraph.h:1233-1333).

Iterative hash-partitioned min-label propagation with pointer jumping:

  label(v) <- min(label(v), min over neighbors u of label(u))   [prop]
  label(v) <- label(label(v))                                   [jump]

Propagation alone converges in O(diameter) rounds; the jump step
short-circuits chains (the salted-bucket rep chains are the worst
case) giving O(log n) rounds. Each round is two shuffles; each round's
result is localCheckpoint()-ed to truncate lineage — the in-sandbox
analogue of the per-iteration Iceberg checkpoint used at prod scale.

The caller's edge plan is evaluated exactly once: one scan emits both
directions of every edge into a materialized undirected edge list, and
the endpoints, the initial labels (whose checksum is observed on their
own checkpoint job) and the singleton anti-join all derive from that
copy.

Labels are the document ids themselves (min url wins), so the final
cluster_id = min member id — deterministic and order-independent, the
tie-break SURVEY.md §7.4 demands."""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F


def cap_degree(edges: DataFrame, max_degree: int,
               sim_col: str = "jaccard") -> DataFrame:
    """Degree cap on an undirected edge list (maps A3 bounded top-T per
    node, reference chooseNN_simple, src/divGraph.h:568-574): per
    endpoint keep the `max_degree` strongest edges; an edge survives if
    EITHER endpoint keeps it, so low-degree nodes never lose their only
    links. Bounds CC fan-in on pathological graphs. NOTE: like the
    reference's T-bound, this is lossy on adversarial topologies (a
    bridge between two capped hubs can drop) — the default pipeline
    does not apply it; it exists for graph-size budgeting."""
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"),
                     *[c for c in edges.columns if c not in ("a", "b")]))
    w = Window.partitionBy("a").orderBy(F.desc(sim_col), F.asc("b"))
    kept = (
        sym.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= max_degree)
        .select(F.least("a", "b").alias("a"),
                F.greatest("a", "b").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    return edges.join(kept, ["a", "b"], "left_semi")


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    id_col: str = "url",
    max_iter: int = 50,
) -> DataFrame:
    """edges(a, b) [+ nodes(id)] -> (id_col, cluster_id).

    ``nodes`` supplies singleton documents (no edges) so every doc gets
    an assignment; if omitted, only endpoint docs are labeled.
    """
    # NB: AQE stays ON here — measured: its partition coalescing on the
    # loop's tiny 16-byte-row shuffles outweighs its per-round replan
    # cost (AQE-off was 2x slower at 16 cores).

    # undirected: propagate both ways. One scan of the input emits both
    # directions and is materialized, so the caller's edge plan (often
    # joins over stored state) runs once, not once per consumer below
    und = edges.select(F.explode(F.array(
        F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
        F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
    )).alias("_e")).select("_e.*").localCheckpoint(eager=True)

    # only edge ENDPOINTS participate in the iteration — at web scale
    # the overwhelming majority of documents touch no candidate pair
    # and their label is trivially themselves; keeping them out of the
    # loop shrinks every per-iteration shuffle to the dup-graph size
    endpoints = und.select(F.col("src").alias("id")).distinct()

    # convergence via a checksum OBSERVED on the checkpoint job itself:
    # labels only ever decrease (min-propagation is monotone), so an
    # unchanged hash-sum means a fixpoint. Observation rides the same
    # job that materializes the round's localCheckpoint — ONE Spark job
    # per round instead of checkpoint-job + checksum-job (the CC loop
    # is latency-bound: serial rounds of small shuffles, so job count
    # is the cost that neither data size nor cores amortize).
    # decimal accumulation: a sum of int64 hashes overflows LongType
    # under ANSI mode.
    chk = F.sum(F.xxhash64("id", "label").cast("decimal(38,0)")).alias("s")
    obs = Observation("cc_init")
    labels = endpoints.select("id", F.col("id").alias("label")) \
        .observe(obs, chk).localCheckpoint(eager=True)
    prev = obs.get["s"]
    for it in range(max_iter):
        # prop: min label among self + neighbors
        nbr = (
            und.join(labels.withColumnRenamed("id", "dst"), "dst")
            .select(F.col("src").alias("id"), "label")
        )
        new = (
            labels.unionByName(nbr)
            .groupBy("id").agg(F.min("label").alias("label"))
        )
        # jump: label <- label(label); labels are node ids so the
        # lookup table is `labels` itself
        lut = new.select(F.col("id").alias("label"),
                         F.col("label").alias("_label2"))
        new = (
            new.join(lut, "label", "left")
            .select("id", F.least("label", "_label2").alias("label"))
        )
        obs = Observation(f"cc_round_{it}")
        new = new.observe(obs, chk)
        # eager checkpoint doubles as the round's action (truncates
        # lineage AND materializes the observed checksum)
        labels = new.localCheckpoint(eager=True)
        cur = obs.get["s"]
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components: no convergence in {max_iter} iters")

    if nodes is not None:
        singles = (
            nodes.select(F.col(id_col).alias("id"))
            .join(labels.select("id"), "id", "left_anti")
            .select("id", F.col("id").alias("label"))
        )
        labels = labels.unionByName(singles)

    return labels.select(F.col("id").alias(id_col), F.col("label").alias("cluster_id"))
