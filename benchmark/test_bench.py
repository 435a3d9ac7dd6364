"""Tests of the benchmark's own code: generator determinism, the
ground-truth helpers and span self-time arithmetic. No Spark needed.

    python3 -m pytest benchmark/test_bench.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from spans import Span, covered, descendants, innermost_at, self_times  # noqa: E402

SMALL = {"etl_pua_keys": 300, "etl_cpa_keys": 120, "docs": 200, "incoming_docs": 40,
         "vectors": 500, "stream_batches": 3, "stream_batch_docs": 40}


def digest(root: str) -> dict[str, str]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def generate_all(seed: int, root: str) -> None:
    gen.gen_payroll(seed, f"{root}/payroll")
    gen.gen_incoming(seed, gen.gen_documents(seed, f"{root}/docs"), f"{root}/incoming")
    gen.gen_vectors(seed, f"{root}/vec")
    gen.gen_stream(seed, f"{root}/stream")


@pytest.fixture(autouse=True)
def small_sizes(monkeypatch):
    monkeypatch.setattr(gen, "SIZES", SMALL)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    generate_all(7, str(tmp_path / "a"))
    generate_all(7, str(tmp_path / "b"))
    a, b = digest(str(tmp_path / "a")), digest(str(tmp_path / "b"))
    assert a and a == b


def test_other_seed_gives_other_inputs(tmp_path):
    generate_all(7, str(tmp_path / "a"))
    generate_all(8, str(tmp_path / "b"))
    a, b = digest(str(tmp_path / "a")), digest(str(tmp_path / "b"))
    assert a.keys() == b.keys()
    assert all(a[k] != b[k] for k in a if k.endswith(("pua.csv", ".parquet")))


def test_payroll_truth_counts_planted_rows(tmp_path):
    t = gen.gen_payroll(3, str(tmp_path))
    assert len(t.pua_keys) == SMALL["etl_pua_keys"]
    assert len(t.cpa_keys) == SMALL["etl_cpa_keys"]
    with open(tmp_path / "pua.csv") as f:
        pua_rows = sum(1 for _ in f) - 1
    assert pua_rows > len(t.pua_keys)  # planted duplicates are in the file
    assert 0 < t.pua_null_title < len(t.pua_keys)


def test_documents_plant_exact_and_near_duplicates(tmp_path):
    t = gen.gen_documents(3, str(tmp_path))
    assert len(t.exact_survivors) < len(t.texts)
    near = [gen.jaccard(gen.shingles(t.texts[a], 4), gen.shingles(t.texts[b], 4))
            for a, b in t.planted_pairs]
    assert near and min(near) >= 0.5


def test_stream_twin_rejects_cross_batch_duplicates():
    a = " ".join(f"w{i}" for i in range(30))
    b = " ".join(f"v{i}" for i in range(30))
    near_a = a.replace("w5 ", "x5 ")
    batches = [[(1, a), (2, b)], [(3, near_a), (4, "z " * 3 + "q")], [(5, b)]]
    assert gen.stream_twin(batches) == [{1, 2}, {4}, set()]


def test_stream_twin_keeps_min_id_of_a_within_batch_cluster():
    a = " ".join(f"w{i}" for i in range(30))
    batches = [[(9, a), (4, a.replace("w7 ", "y7 ")), (6, "p q r s")]]
    assert gen.stream_twin(batches) == [{4, 6}]


def test_stream_twin_rejects_near_dups_of_the_preloaded_corpus():
    a = " ".join(f"w{i}" for i in range(30))
    b = " ".join(f"v{i}" for i in range(30))
    batches = [[(5, a.replace("w9 ", "x9 ")), (6, b)]]
    assert gen.stream_twin(batches, preload=[(1, a)]) == [{6}]


def test_incoming_plants_near_dups_of_normal_docs(tmp_path):
    docs = gen.gen_documents(3, str(tmp_path / "docs"))
    inc = gen.gen_incoming(3, docs, str(tmp_path / "inc"))
    rows = dict(inc.batches[0])
    assert len(rows) == SMALL["incoming_docs"] and min(rows) > max(docs.texts)
    assert inc.planted_cross
    for i in inc.planted_cross:
        sh = gen.shingles(rows[i], 3)
        assert max(gen.jaccard(sh, gen.shingles(docs.texts[j], 3))
                   for j in docs.normal) >= 0.8


def test_brute_force_breaks_score_ties_by_id():
    v = np.array([[1, 0], [1, 0], [0, 1]], dtype=np.float32)
    ids, s = gen.brute_force_top_k(v, np.array([9, 3, 5]), np.array([1.0, 0.0]), 2)
    assert list(ids) == [3, 9] and np.allclose(s, [1.0, 1.0])


def span(i, parent, start, end):
    return Span(id=i, name=i, parent=parent, trace="t", start=start, end=end)


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([], 0, 10) == 0


def test_self_time_subtracts_child_coverage_once():
    spans = [
        span("op", None, 0.0, 10.0),
        span("a", "op", 1.0, 4.0),
        span("b", "op", 3.0, 6.0),  # overlaps a: covered once
        span("c", "a", 2.0, 3.0),
    ]
    st = self_times(spans)
    assert st["op"] == pytest.approx(5.0)
    assert st["a"] == pytest.approx(2.0)
    assert st["b"] == pytest.approx(3.0)
    assert st["c"] == pytest.approx(1.0)


def test_innermost_and_descendants():
    spans = [span("op", None, 0, 10), span("a", "op", 1, 4), span("c", "a", 2, 3),
             span("op2", None, 11, 12)]
    assert innermost_at(spans, 2.5) == "c"
    assert innermost_at(spans, 5) == "op"
    assert innermost_at(spans, 10.5) is None
    assert descendants(spans, "op") == {"op", "a", "c"}
