"""Property-based tests (hypothesis) for the kernels and planner — a
testing layer the reference lacks entirely (SURVEY §5: 'No
property-based/randomized testing framework')."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from hoopstat_haus_spark.lakehouse.compaction import CompactionPolicy, plan_compaction
from hoopstat_haus_spark.lakehouse.zorder import hilbert_index, morton2

MB = 1024 * 1024


@given(st.lists(st.tuples(st.integers(0, 2**31 - 1), st.integers(0, 2**31 - 1)), min_size=1, max_size=200))
def test_morton2_is_injective_and_monotone_on_axes(pairs):
    a = np.array([p[0] for p in pairs], dtype=np.uint64)
    b = np.array([p[1] for p in pairs], dtype=np.uint64)
    keys = morton2(a, b)
    # injectivity: distinct inputs -> distinct keys
    assert len(set(zip(a.tolist(), b.tolist()))) == len(set(keys.tolist()))
    # monotone along each axis with the other fixed
    if len(pairs) >= 2:
        fixed = b[0]
        ks = morton2(np.sort(a), np.full_like(a, fixed))
        assert (np.diff(ks.astype(np.int64)) >= 0).all()


@settings(deadline=2000)
@given(st.integers(2, 6))
def test_hilbert_full_grid_bijection(bits):
    n = 1 << bits
    xs, ys = np.meshgrid(np.arange(n, dtype=np.uint64), np.arange(n, dtype=np.uint64))
    coords = np.stack([xs.ravel(), ys.ravel()], axis=1)
    keys = hilbert_index(coords, bits)
    assert sorted(keys.tolist()) == list(range(n * n))


@given(
    st.lists(st.integers(1, 200), min_size=2, max_size=60),  # file sizes in MB-ish units
)
def test_planner_invariants(sizes):
    policy = CompactionPolicy(min_file_bytes=50 * MB, target_file_bytes=100 * MB, max_file_bytes=200 * MB)
    entries = [
        {
            "file_path": f"f{i}",
            "partition": "web",
            "file_bytes": s * MB,
            "row_count": 1,
            "token_count": 1,
            "zmin": 0,
            "zmax": 1,
            "min_n_tok": 1,
            "max_n_tok": 1,
            "min_doc_id": "a",
            "max_doc_id": "z",
        }
        for i, s in enumerate(sizes)
    ]
    plans = plan_compaction(entries, policy)
    if not plans:
        return
    placed = [f["file_path"] for f in plans["web"]]
    # every candidate placed exactly once
    candidates = {e["file_path"] for e in entries if e["file_bytes"] < policy.min_file_bytes or e["file_bytes"] > policy.max_file_bytes}
    assert sorted(placed) == sorted(candidates)


def test_scrub_chain_is_idempotent():
    """Redaction placeholders must never create new matches (no digits,
    no '@'), so one scrub pass is a fixed point — re-scrubbing already-
    published text is a safe no-op. Stressed at 20k examples once;
    derandomized here so the suite stays deterministic."""
    import re

    from hypothesis import HealthCheck

    from hoopstat_haus_spark.text.scrub import PII_PATTERNS

    def chain(text):
        out = "\n".join(dict.fromkeys(text.split("\n")))
        for _, pat, tok in PII_PATTERNS:
            out = re.sub(pat, tok, out)
        return out

    @settings(max_examples=500, deadline=None, derandomize=True,
              suppress_health_check=[HealthCheck.differing_executors])
    @given(st.text(alphabet="ab@.+-()0123456789 \nEMAILPHON<>_%", max_size=120))
    def check(t):
        once = chain(t)
        assert chain(once) == once

    check()


_DOC = st.one_of(st.none(), st.text(alphabet="ab", min_size=1, max_size=4))
_PART = st.sampled_from(["p", "q", "new"])


@settings(max_examples=300, deadline=None, derandomize=True)
@given(
    st.lists(st.tuples(st.sampled_from(["p", "q"]), _DOC, _DOC), max_size=12),
    st.lists(st.tuples(_DOC, st.one_of(st.none(), _PART)), max_size=20),
)
def test_merge_candidate_files_match_interval_test(files, feed):
    """MERGE's driver-side candidate pick equals the brute-force range
    test: a file is a candidate iff a non-NULL feed key of its partition
    lies in [min_doc_id, max_doc_id]. Short strings over two letters put
    keys in the gaps between files and on their endpoints; NULL halves
    and a partition new to the table ("new") match nothing."""
    from hoopstat_haus_spark.lakehouse.merge import _candidate_files, _keys_by_part

    entries = []
    for i, (p, lo, hi) in enumerate(files):
        if lo is not None and hi is not None:
            lo, hi = min(lo, hi), max(lo, hi)
        entries.append({"file_path": f"f{i}", "partition": p, "min_doc_id": lo, "max_doc_id": hi})
    want = [
        e
        for e in entries
        if e["min_doc_id"] is not None
        and e["max_doc_id"] is not None
        and any(
            d is not None and s == e["partition"] and e["min_doc_id"] <= d <= e["max_doc_id"]
            for d, s in feed
        )
    ]
    assert _candidate_files(entries, _keys_by_part(feed)) == want
