"""The benchmark's own tests (several minutes: each smoke run starts Spark).

    python3 -m pytest perfbench -q
"""

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gate  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def smoke(workload: str, trace: int, seed: int = 1):
    """One scale-1 run of the CLI; returns (stdout lines, result JSON)."""
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", "1", "--trace",
         str(trace), "--scale", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=180)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_every_metric_prints_with_name_and_unit(workload, trace):
    lines, res = smoke(workload, trace)
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert ({k: v["unit"] for k, v in res["metrics"].items()}
            == {m["name"]: m["unit"] for m in spec})
    for m in spec:
        v = res["metrics"][m["name"]]["value"]
        assert isinstance(v, (int, float)) and v == v, m["name"]
        assert any(ln.startswith(f"metric {m['name']} ")
                   and ln.endswith(f" {m['unit']}") for ln in lines)
    assert any(ln.startswith("metric failed_frac 0 ") for ln in lines)


def test_gate_fails_on_a_dropped_row(tmp_path):
    smoke("weekly_sf0.01", 0, seed=2)
    out = tmp_path / "build"
    shutil.copytree(os.path.join(run.WORK, "out", "build"), out)
    corpus = os.path.join(run.WORK, "corpora", "weekly_sf0.01-s1x1-seed2")
    expected = gate.expected_triples(corpus)
    got = gate.read_triples(str(out))
    recorded = gate.build_summary(got)
    assert gate.check_build(got, expected, recorded) == []

    # rewrite the main graph without one row that the oracle expects
    main = out / "triples" / "graph=main"
    table = pq.read_table(str(main))
    dropped = next(i for i, (s, p, o) in enumerate(zip(
        table.column("subj").to_pylist(), table.column("pred").to_pylist(),
        table.column("obj").to_pylist())) if ("main", s, p, o) in expected)
    shutil.rmtree(main)
    main.mkdir()
    pq.write_table(pa.concat_tables([table.slice(0, dropped),
                                     table.slice(dropped + 1)]),
                   str(main / "part-0.parquet"))
    tampered = gate.read_triples(str(out))
    assert len(tampered) == len(got) - 1
    errs = gate.check_build(tampered, expected, recorded)
    assert any("oracle triples missing" in e for e in errs)
    assert any("differs from recorded" in e for e in errs)
    # a dropped row outside the oracle's flag-off set is caught by the
    # recorded digest alone
    extra = next(iter(got - expected))
    assert gate.check_build(got - {extra}, expected, recorded)

    # a duplicated row leaves the set intact and is caught by the row count
    assert gate.check_counts(str(out), tampered, None) == []
    shutil.rmtree(main)
    main.mkdir()
    pq.write_table(pa.concat_tables([table, table.slice(0, 1)]),
                   str(main / "part-0.parquet"))
    assert any("duplicate rows" in e for e in gate.check_counts(
        str(out), gate.read_triples(str(out)), None))


def test_seed_changes_the_corpus_digest(tmp_path):
    from aopwiki_spark.synth.gen import generate_corpus
    digests = {}
    for name, seed in (("a", "1"), ("b", "2"), ("c", "1")):
        d = generate_corpus(str(tmp_path / name), 1, seed=seed)
        digests[name] = gate.corpus_digest(d)
    assert digests["a"] != digests["b"]
    assert digests["a"] == digests["c"]
