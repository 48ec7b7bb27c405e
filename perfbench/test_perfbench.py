"""Tests of the benchmark itself: the seeded input generator, the
correctness gate, argument validation and the span arithmetic.

    python3 -m pytest perfbench -q -p no:cacheprovider

None of these start Spark.
"""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

SMALL = {**run.load_spec()["sizes"], "customer": 30, "orders": 200, "lineitem": 600, "events": 150,
         "documents": 80, "embeddings": 60}


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, files in os.walk(d):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


def test_same_seed_gives_byte_identical_files(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    gen.generate(str(a), 7, SMALL, directory_tables=("documents",))
    gen.generate(str(b), 7, SMALL, directory_tables=("documents",))
    fa, fb = _files(str(a)), _files(str(b))
    assert len(fa) == 10 and fa == fb
    gen.write_staging(str(a / "stage"), 7, 1, 2, 5, 1000)
    gen.write_staging(str(b / "stage"), 7, 1, 2, 5, 1000)
    assert _files(str(a / "stage")) == _files(str(b / "stage"))


def test_different_seeds_give_different_files(tmp_path):
    gen.generate(str(tmp_path / "a"), 1, SMALL)
    gen.generate(str(tmp_path / "b"), 2, SMALL)
    fa, fb = _files(str(tmp_path / "a")), _files(str(tmp_path / "b"))
    for name in ("orders", "lineitem", "documents", "embeddings"):
        assert fa[f"{name}.parquet"] != fb[f"{name}.parquet"], name
    # the dimension tables carry no seeded transform
    assert fa["nation.parquet"] == fb["nation.parquet"]
    gen.write_staging(str(tmp_path / "s1"), 1, 1, 1, 5, 100)
    gen.write_staging(str(tmp_path / "s2"), 1, 2, 1, 5, 100)
    assert _files(str(tmp_path / "s1")) != _files(str(tmp_path / "s2"))


def test_generator_writes_only_inside_its_output_dir(tmp_path, monkeypatch):
    written = []
    real = gen.pq.write_table

    def record(table, where, **kw):
        written.append(os.path.abspath(where))
        return real(table, where, **kw)

    monkeypatch.setattr(gen.pq, "write_table", record)
    out = tmp_path / "out"
    gen.generate(str(out), 3, SMALL, directory_tables=("documents", "embeddings"))
    gen.write_staging(str(out / "stage"), 3, 1, 2, 4, 500)
    assert written and all(p.startswith(str(out) + os.sep) for p in written)
    assert os.listdir(tmp_path) == ["out"]


def test_seeded_transforms_preserve_structure():
    sizes = {**SMALL, "documents": 1000}
    t1, t2 = gen.base_tables(sizes, 1), gen.base_tables(sizes, 2)
    # row order: the same rows, in another order
    k1, k2 = t1["orders"].column("o_orderkey").to_pylist(), t2["orders"].column("o_orderkey").to_pylist()
    assert k1 != k2 and sorted(k1) == sorted(k2)
    # rotation: norms and pairwise distances are kept
    x1 = np.stack(t1["embeddings"].column("embedding").to_numpy(zero_copy_only=False))
    x2 = np.stack(t2["embeddings"].column("embedding").to_numpy(zero_copy_only=False))
    assert not np.allclose(x1, x2)
    np.testing.assert_allclose(np.linalg.norm(x1, axis=1), 1.0, atol=1e-5)
    np.testing.assert_allclose(x1 @ x1.T, x2 @ x2.T, atol=1e-5)
    # suffix: word counts and the duplicate structure are kept
    d1, d2 = t1["documents"].column("text").to_pylist(), t2["documents"].column("text").to_pylist()
    assert [len(s.split(" ")) for s in d1] == [len(s.split(" ")) for s in d2]
    assert len(set(d1)) == len(set(d2)) < len(d1)
    assert all(w.endswith("b") for w in d1[0].split(" "))
    assert t1["documents"].column("n_chars").to_pylist() == [len(s) for s in d1]


def test_word_suffix_is_base_26():
    assert [gen.word_suffix(s) for s in (0, 1, 25, 26, 27, 676)] == ["a", "b", "z", "ba", "bb", "baa"]


def test_directory_tables_hold_one_part_file(tmp_path):
    gen.generate(str(tmp_path), 5, SMALL, directory_tables=("documents",))
    part = tmp_path / "documents.parquet" / "part-00000.parquet"
    assert pq.read_table(str(part)).num_rows == SMALL["documents"]


def test_correctness_gate_counts_an_altered_result():
    import pandas as pd

    expected = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    tally = run.Tally()
    assert tally.check("q", expected.copy(), expected)
    assert tally.failed_ratio == 0.0
    altered = expected.copy()
    altered.loc[1, "v"] = 1.5000001
    assert not tally.check("q", altered, expected)
    assert tally.failed_ratio == 0.5
    assert not tally.check("q", expected.iloc[:2], expected)
    assert tally.failed_ratio == pytest.approx(2 / 3)
    assert [f["kind"] for f in tally.failures] == ["mismatch", "mismatch"]


@pytest.mark.parametrize(
    "argv",
    [
        ["--workload", "nope", "--seed", "1"],
        ["--workload", "analytics", "--seed", "-1"],
        ["--workload", "analytics", "--seed", "1.5"],
        ["--workload", "analytics", "--seed", "x"],
        ["--workload", "analytics"],
        ["--workload", "analytics", "--seed", "1", "--trace", "2"],
    ],
)
def test_bad_arguments_are_usage_errors(argv):
    with pytest.raises(SystemExit) as exc:
        run.parse_args(argv, run.load_spec())
    assert exc.value.code == 2


def test_bad_arguments_exit_before_spark_starts():
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "nope", "--seed", "1"],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode == 2 and proc.stdout == ""
    assert "invalid choice" in proc.stderr


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    pct, value = run.tail([float(i) for i in range(1, 101)])
    assert (pct, value) == (90.0, 90.0)
    # fewer than 100 samples: interpolated p90, never the ten-beyond rank
    assert run.tail([3.0, 1.0, 2.0]) == (90.0, pytest.approx(2.8))
    assert run.tail([float(i) for i in range(1, 28)])[0] == 90.0


def test_query_p50_is_the_pooled_median_of_invocations():
    passes = [
        {"query_walls": [("a", 1.0), ("b", 2.0), ("c", 3.0)]},
        {"query_walls": [("a", 1.2), ("b", 9.0), ("c", 3.1)]},
        {"query_walls": [("a", 1.1), ("b", 2.2), ("c", 2.9)]},
    ]
    # nine samples pooled over queries and passes; the fifth is b's 2.2,
    # and b's one slow invocation only counts as one sample above it
    assert run.query_p50(passes) == pytest.approx(2.2)


def test_spans_tile_the_invocation_and_self_times_are_non_negative():
    t0 = 1000.0
    c_jobs = [{"id": 1, "start": 999.9, "end": 1000.3, "stages": 1, "tasks": 4, "failed_tasks": 0,
               "run_s": 0.8, "cpu_s": 0.5, "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.1, "spill_mb": 0.0}]
    a_jobs = [
        {**c_jobs[0], "id": 2, "start": 1000.45, "end": 1000.7},
        {**c_jobs[0], "id": 3, "start": 1000.6, "end": 1001.2},
    ]
    rec = layers.invocation_record("q", t0, 0.4, 0.6, c_jobs, a_jobs, {"analysis": 0.01}, 3, 0.001, 2, 0.5, 4)
    assert rec["construct_s"] + rec["action_s"] == rec["wall_s"]
    assert all(v >= 0 for v in rec["self_s"].values())
    # construct job clipped to [1000.0, 1000.4]; action jobs union [1000.45, 1001.0]
    assert rec["self_s"]["construct"] == pytest.approx(0.1)
    assert rec["materialize.s"] == pytest.approx(0.05)
    assert rec["queries.construct_jobs"] == 1 and rec["execute.jobs"] == 3
    spans = {s["id"]: s for s in rec["spans"]}
    assert spans[1]["end"] == spans[2]["start"] and spans[2]["end"] == t0 + 1.0
    assert [s["parent"] for s in rec["spans"][3:]] == [1, 2, 2]
    totals = layers.pass_layers([rec, rec], 4)
    assert totals["execute.jobs"] == 6 and totals["queries.construct_share"] == pytest.approx(0.4)
