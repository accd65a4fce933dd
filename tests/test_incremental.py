"""Incremental / streaming dedup tests (maps the reference's online
insert contract, insertLSHRefine src/divGraph.h:471-526): processing a
corpus in micro-batches must produce the SAME final assignment as one
batch run, and re-delivery must be idempotent."""

from __future__ import annotations

import pytest

from lsh_apg_spark.config import DedupConfig
from lsh_apg_spark.fixtures import PAGES_SCHEMA, generate_pages
from lsh_apg_spark.pipeline import run_dedup
from lsh_apg_spark.sources.checkpoints import CheckpointStore
from lsh_apg_spark.streaming.incremental import dedup_increment, stream_dedup

CFG = DedupConfig()


@pytest.fixture(scope="module")
def corpus(spark):
    fx = generate_pages(n_docs=120, seed=11)
    return spark.createDataFrame(fx.pages, schema=PAGES_SCHEMA) \
        .localCheckpoint(eager=True)


def _assignments(df):
    return sorted((r["url"], r["cluster_id"]) for r in df.collect())


def test_incremental_equals_batch(spark, corpus, tmp_path):
    batch = run_dedup(spark, corpus, CFG, include_substring=False).clusters
    store = CheckpointStore(spark, str(tmp_path / "inc"), CFG)
    half1 = corpus.limit(60)
    half2 = corpus.subtract(half1)
    dedup_increment(spark, half1, store, CFG)
    final = dedup_increment(spark, half2, store, CFG)
    assert _assignments(final) == _assignments(batch)


def test_incremental_redelivery_idempotent(spark, corpus, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "inc2"), CFG)
    first = dedup_increment(spark, corpus, store, CFG)
    a1 = _assignments(first)
    again = dedup_increment(spark, corpus, store, CFG)  # full re-delivery
    assert _assignments(again) == a1


def test_incremental_cc_bounded_by_touched_components(spark, tmp_path):
    """The per-batch CC input must be the TOUCHED components + new
    docs, not the accumulated corpus (VERDICT r1 item 8): batch 2 adds
    documents near-duplicating only a few batch-1 docs, so the re-run
    subgraph must be far smaller than the corpus — while the final
    assignment still equals the one-shot batch run."""
    fx = generate_pages(n_docs=200, seed=23)
    corpus = spark.createDataFrame(fx.pages, schema=PAGES_SCHEMA) \
        .localCheckpoint(eager=True)
    store = CheckpointStore(spark, str(tmp_path / "inc3"), CFG)
    first = corpus.limit(180)
    rest = corpus.subtract(first)
    m1: dict = {}
    dedup_increment(spark, first, store, CFG, metrics=m1)
    m2: dict = {}
    final = dedup_increment(spark, rest, store, CFG, metrics=m2)
    n_total = corpus.count()
    n_batch2 = rest.count()
    # batch 1 clusters everything it saw; batch 2 must NOT
    assert m1["cc_nodes"] == 180
    assert m2["cc_nodes"] < n_total / 2, m2
    # every batch-2 doc is in the subgraph, plus only touched components
    assert m2["cc_nodes"] >= n_batch2
    batch = run_dedup(spark, corpus, CFG, include_substring=False).clusters
    assert _assignments(final) == _assignments(batch)


def test_incremental_fingerprints_each_new_doc_once(spark, corpus,
                                                   tmp_path, monkeypatch):
    """The reference's online insert hashes each new point once
    (insertLSHRefine); a batch onto stored state must likewise run the
    signature UDF once per NEW url, not once per downstream consumer
    of the lazy new-doc frames. A nondeterministic always-true filter
    on the signatures counts the rows it sees in a Spark accumulator;
    re-delivered urls are dropped before signing, so they count 0."""
    from pyspark.sql import functions as F

    from lsh_apg_spark.operators.signatures import compute_signatures
    from lsh_apg_spark.streaming import incremental

    seen = spark.sparkContext.accumulator(0)

    def count_row(_):
        seen.add(1)
        return True

    counted = F.udf(count_row, "boolean").asNondeterministic()

    def counting_signatures(docs, cfg, id_col="url", text_col="text"):
        sigs = compute_signatures(docs, cfg, id_col, text_col)
        return sigs.filter(counted(F.col(id_col)))

    monkeypatch.setattr(incremental, "compute_signatures",
                        counting_signatures)
    rows = corpus.collect()
    first = spark.createDataFrame(rows[:80], schema=PAGES_SCHEMA)
    second = spark.createDataFrame(rows[60:], schema=PAGES_SCHEMA)
    store = CheckpointStore(spark, str(tmp_path / "inc6"), CFG)
    dedup_increment(spark, first, store, CFG)
    before = seen.value
    dedup_increment(spark, second, store, CFG, metrics={})
    new_urls = {r["url"] for r in rows[60:]} - {r["url"] for r in rows[:80]}
    assert new_urls
    assert seen.value - before == len(new_urls)


def test_incremental_scans_stored_state_at_most_twice(spark, corpus,
                                                     tmp_path):
    """The reference's online insert works only around the new points
    (insertLSHRefine); a batch's re-cluster subgraph is built once, so
    the stored clusters and edges are each scanned at most twice: once
    to build the subgraph and once to rewrite the table. A store whose
    reads pass through a nondeterministic always-true filter counts the
    rows every evaluation of each stored table reads."""
    from pyspark.sql import functions as F

    seen = {name: spark.sparkContext.accumulator(0)
            for name in ("clusters", "edges")}

    class CountingStore(CheckpointStore):
        def read(self, name):
            df = super().read(name)
            if name not in seen:
                return df
            acc = seen[name]

            def count_row(_):
                acc.add(1)
                return True

            counted = F.udf(count_row, "boolean").asNondeterministic()
            return df.filter(counted(F.col(df.columns[0])))

    rows = corpus.collect()
    # interleaved halves, so the second batch's new edges reach into
    # stored components
    first = spark.createDataFrame(rows[::2], schema=PAGES_SCHEMA)
    second = spark.createDataFrame(rows[1::2], schema=PAGES_SCHEMA)
    store = CountingStore(spark, str(tmp_path / "inc7"), CFG)
    dedup_increment(spark, first, store, CFG)
    stored = {name: store.lineage(name)["rows"] for name in seen}
    before = {name: acc.value for name, acc in seen.items()}
    metrics: dict = {}
    dedup_increment(spark, second, store, CFG, metrics=metrics)
    scanned = {name: seen[name].value - before[name] for name in seen}
    assert stored["edges"] > 0 and metrics["cc_edges"] > 0, metrics
    for name in seen:
        assert stored[name] <= scanned[name] <= 2 * stored[name], \
            (name, scanned, stored)


def test_structured_streaming_drain(spark, corpus, tmp_path):
    """readStream → foreachBatch(dedup_increment) with availableNow:
    drains the drop directory and lands the same assignments."""
    drop = str(tmp_path / "drop")
    corpus.write.mode("overwrite").parquet(drop)
    store = CheckpointStore(spark, str(tmp_path / "state"), CFG)
    q = stream_dedup(spark, drop, store, CFG,
                     stream_checkpoint=str(tmp_path / "sck"))
    q.awaitTermination(300)
    batch = run_dedup(spark, corpus, CFG, include_substring=False).clusters
    assert _assignments(store.read("clusters")) == _assignments(batch)


def test_incremental_decontaminates_at_ingest(spark, tmp_path):
    """With eval_docs set, a new doc near-matching the eval set is
    dropped BEFORE entering corpus state: absent from the assignment
    AND from the persisted docs table; clean docs are unaffected."""
    base = " ".join(f"bench{i}" for i in range(60))
    evals = spark.createDataFrame([("e0", base)], "url string, text string")
    batch = spark.createDataFrame(
        [
            ("p_dirty", base.replace("bench30", "x")),   # ~0.9 jaccard
            ("p_clean1", " ".join(f"doc{i}" for i in range(60))),
            ("p_clean2", " ".join(f"page{i}" for i in range(60))),
        ],
        "url string, text string")
    store = CheckpointStore(spark, str(tmp_path / "inc5"), CFG)
    metrics: dict = {}
    out = dedup_increment(spark, batch, store, CFG, metrics=metrics,
                          eval_docs=evals)
    urls = {r["url"] for r in out.collect()}
    assert urls == {"p_clean1", "p_clean2"}
    assert metrics["contaminated_dropped"] == 1
    stored = {r["url"] for r in store.read("docs").collect()}
    assert "p_dirty" not in stored


def test_incremental_config_mismatch_fails_loudly(spark, corpus, tmp_path):
    """A store written under a different config/schema version must
    raise, not silently restart state with just the current batch
    (ADVICE r2): raw pages are not retained anywhere, so the silent
    path truncates the accumulated corpus unrecoverably. An explicit
    on_mismatch='reset' opts into the restart."""
    store = CheckpointStore(spark, str(tmp_path / "inc4"), CFG)
    dedup_increment(spark, corpus.limit(40), store, CFG)

    changed = DedupConfig(tau=0.9)
    store2 = CheckpointStore(spark, str(tmp_path / "inc4"), changed)
    assert store2.status("docs") == "mismatch"
    with pytest.raises(RuntimeError, match="accumulated corpus"):
        dedup_increment(spark, corpus.limit(80), store2, changed)
    # old state is untouched by the refused batch
    assert store.status("docs") == "ok"

    # explicit reset: allowed, and state restarts from this batch only
    out = dedup_increment(spark, corpus.limit(80), store2, changed,
                          on_mismatch="reset")
    assert out.count() == 80
    assert store2.status("docs") == "ok"
