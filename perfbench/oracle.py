"""Exact duplicate oracle, written from the config's definitions only.

It shares no code with the program's kernels: shingles are tuples of
token strings (no hashing), Jaccard is computed over Python sets, and
the substring test compares characters directly.

* Jaccard pairs: word k-shingles of ``text.lower().split()`` (fewer
  than k tokens make one whole-text shingle), an inverted index over
  them, then exact Jaccard >= tau on every pair sharing a shingle.
  Pairs sharing no shingle have Jaccard 0.
* Substring pairs: a common substring of >= min_substring_len
  characters of the raw text. Candidates share a raw 8-word shingle; a
  span that long always contains 8 whole shared words (checked per
  corpus from its longest token and whitespace run). Each shared
  8-shingle occurrence is extended character by character in both
  directions along its alignment; a common substring that long
  contains such an occurrence, so the longest extension reaches the
  threshold exactly when the pair qualifies.
* Union-find over all pairs labels every url with its cluster's min url.
"""

from __future__ import annotations

import re
from collections import defaultdict

SUB_SHINGLE_WORDS = 8
_TOKEN = re.compile(r"\S+")
_LONG_SPACE_RUN = re.compile(r"\s{2,}")


def _shingles(toks: list[str], k: int) -> frozenset:
    return frozenset(zip(*(toks[i:] for i in range(k))))


def word_shingles(text: str, k: int) -> frozenset:
    toks = text.lower().split()
    if len(toks) < k:
        return frozenset([tuple(toks)])
    return _shingles(toks, k)


def _pairs_sharing_a_key(keysets: list[frozenset]) -> set[tuple[int, int]]:
    """Inverted index restricted to keys held by two or more sets."""
    seen: set = set()
    shared: set = set()
    for keys in keysets:
        shared |= keys & seen
        seen |= keys
    index: dict = defaultdict(list)
    own = [keys & shared for keys in keysets]
    for i, keys in enumerate(own):
        for key in keys:
            index[key].append(i)
    cands: set[tuple[int, int]] = set()
    for i, keys in enumerate(own):
        near: set[int] = set()
        for key in keys:
            near.update(index[key])
        cands.update((i, j) for j in near if j > i)
    return cands


def jaccard_pairs(texts: list[str], k: int, tau: float) -> set[tuple[int, int]]:
    sets = [word_shingles(t, k) for t in texts]
    out = set()
    for i, j in _pairs_sharing_a_key(sets):
        inter = len(sets[i] & sets[j])
        if inter / (len(sets[i]) + len(sets[j]) - inter) >= tau:
            out.add((i, j))
    return out


def _common_run(a: str, b: str, i: int, j: int, step: int) -> int:
    """Length of the longest run a[i..] == b[j..] walking by ``step``
    (+1 right from i/j, -1 left from i-1/j-1), by doubling then halving
    over slice comparisons."""
    if step > 0:
        limit = min(len(a) - i, len(b) - j)
        same = lambda n: a[i:i + n] == b[j:j + n]  # noqa: E731
    else:
        limit = min(i, j)
        same = lambda n: a[i - n:i] == b[j - n:j]  # noqa: E731
    lo, hi = 0, 1
    while hi <= limit and same(hi):
        lo, hi = hi, hi * 2
    hi = min(hi, limit + 1)
    while hi - lo > 1:
        mid = (lo + hi) // 2
        if same(mid):
            lo = mid
        else:
            hi = mid
    return lo


def _sub_shingle_offsets(text: str) -> dict[tuple, list[int]]:
    """Raw 8-word shingle -> char offsets of its occurrences."""
    spans = [(m.group(), m.start()) for m in _TOKEN.finditer(text)]
    out: dict[tuple, list[int]] = defaultdict(list)
    w = SUB_SHINGLE_WORDS
    for p in range(len(spans) - w + 1):
        out[tuple(t for t, _ in spans[p:p + w])].append(spans[p][1])
    return out


def _check_whole_word_guarantee(texts: list[str], min_len: int) -> None:
    """A span of min_len chars must hold SUB_SHINGLE_WORDS whole words
    for the 8-shingle index to find every qualifying pair: it loses at
    most one partial token and one whitespace run at each end, and
    every whole token after that costs at most (token + run) chars."""
    longest_tok = max((max(map(len, t.split()), default=1) for t in texts),
                      default=1)
    longest_run = max((len(m) for t in texts
                       for m in _LONG_SPACE_RUN.findall(t)), default=1)
    whole = (min_len - 2 * (longest_tok - 1) - 2 * longest_run) \
        // (longest_tok + longest_run)
    if whole < SUB_SHINGLE_WORDS:
        raise ValueError(
            f"substring oracle: a {min_len}-char span may hold only {whole} "
            f"whole words (longest token {longest_tok}, longest whitespace "
            f"run {longest_run}); the {SUB_SHINGLE_WORDS}-word index is not "
            "exhaustive for this corpus")


def substring_pairs(texts: list[str], min_len: int,
                    skip: set[tuple[int, int]]) -> set[tuple[int, int]]:
    """Pairs with a common substring of >= min_len chars, not already
    in ``skip`` (a pair already known to be a duplicate needs no test)."""
    _check_whole_word_guarantee(texts, min_len)
    keysets = [_shingles(t.split(), SUB_SHINGLE_WORDS) for t in texts]
    occ: dict[int, dict[tuple, list[int]]] = {}
    out = set()
    for i, j in _pairs_sharing_a_key(keysets):
        if (i, j) in skip:
            continue
        a, b = texts[i], texts[j]
        for d in (i, j):
            if d not in occ:
                occ[d] = _sub_shingle_offsets(texts[d])
        # alignment -> maximal runs already measured on it
        done: dict[int, list[tuple[int, int]]] = defaultdict(list)
        found = False
        for key in occ[i].keys() & occ[j].keys():
            for pa in occ[i][key]:
                for pb in occ[j][key]:
                    runs = done[pa - pb]
                    if any(lo <= pa < hi for lo, hi in runs):
                        continue
                    left = _common_run(a, b, pa, pb, -1)
                    right = _common_run(a, b, pa, pb, +1)
                    runs.append((pa - left, pa + right))
                    if left + right >= min_len:
                        found = True
                        break
                if found:
                    break
            if found:
                break
        if found:
            out.add((i, j))
    return out


def cluster_labels(urls: list[str], pairs: set[tuple[int, int]]) -> list[str]:
    """Union-find; each url's label is the min url of its component."""
    parent = list(range(len(urls)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, j in pairs:
        ri, rj = find(i), find(j)
        if ri != rj:
            if urls[ri] < urls[rj]:
                parent[rj] = ri
            else:
                parent[ri] = rj
    return [urls[find(i)] for i in range(len(urls))]


def solve(docs: list[tuple[str, str]], cfg, include_substring: bool) -> dict:
    """-> {"labels": {url: oracle cluster label}, "pairs": [[url, url]],
    "jaccard_pairs": n, "substring_pairs": n}."""
    urls = [u for u, _ in docs]
    texts = [t for _, t in docs]
    jp = jaccard_pairs(texts, cfg.shingle_size, cfg.tau)
    sp = substring_pairs(texts, cfg.min_substring_len, jp) \
        if include_substring else set()
    pairs = jp | sp
    labels = cluster_labels(urls, pairs)
    return {
        "labels": dict(zip(urls, labels)),
        "pairs": sorted([urls[i], urls[j]] for i, j in pairs),
        "jaccard_pairs": len(jp),
        "substring_pairs": len(sp),
    }


def check(result: list[tuple[str, str]], oracle: dict) -> dict:
    """Score one (url, cluster_id) result against the oracle.

    ``structure_errors`` lists what makes the run a failure: a url
    missing, unknown or repeated, or a cluster_id that is not the min
    url of its cluster. Recall and agreement are measurements only."""
    labels = oracle["labels"]
    errors = []
    got: dict[str, str] = {}
    for url, cid in result:
        if url in got:
            errors.append(f"url repeated: {url}")
        got[url] = cid
    missing = labels.keys() - got.keys()
    extra = got.keys() - labels.keys()
    if missing:
        errors.append(f"{len(missing)} urls missing, e.g. {min(missing)}")
    if extra:
        errors.append(f"{len(extra)} unknown urls, e.g. {min(extra)}")
    members: dict[str, list[str]] = defaultdict(list)
    for url, cid in got.items():
        members[cid].append(url)
    for cid, us in members.items():
        if min(us) != cid:
            errors.append(f"cluster_id {cid} is not its min url {min(us)}")
            break
    pairs = oracle["pairs"]
    hit = sum(1 for a, b in pairs if a in got and got.get(a) == got.get(b))
    agree = sum(1 for u, lab in labels.items() if got.get(u) == lab)
    return {
        "structure_errors": errors,
        # no oracle pairs (a workload without duplicates): vacuously 1
        "pair_recall": hit / len(pairs) if pairs else 1.0,
        "cluster_agreement": agree / len(labels),
    }
