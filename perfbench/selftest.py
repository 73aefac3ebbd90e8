"""Self-tests of the benchmark (about ten minutes at local[4]):

    python3 perfbench/selftest.py

1. The input generator is deterministic: one seed writes byte-identical
   files twice, another seed writes different ones.
2. ``BENCHMARK.json`` is what ``names.py`` generates, and a smallest-size
   run of each workload, untraced and traced, prints exactly the declared
   metrics, each a number, with every output check passing.
3. A deliberately corrupted output counts as a failure: a changed value
   in one registry leaf's rows, and a deleted file of committed triples.
"""

from __future__ import annotations

import argparse
import filecmp
import glob
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]


def test_generator_deterministic() -> None:
    import gen
    sizes = {t: 300 for t in gen.TABLES}
    with tempfile.TemporaryDirectory(dir=ROOT) as d:
        a, b, c = (os.path.join(d, x) for x in "abc")
        gen.write_inputs(7, a, sizes)
        gen.write_inputs(7, b, sizes)
        gen.write_inputs(8, c, sizes)
        for t in sizes:
            f = f"{t}.parquet"
            assert filecmp.cmp(f"{a}/{f}", f"{b}/{f}", shallow=False), t
            assert not filecmp.cmp(f"{a}/{f}", f"{c}/{f}", shallow=False), t


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"], cwd=ROOT, capture_output=True, text=True,
        timeout=400)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_names_emitted() -> None:
    from names import manifest
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    assert declared == manifest(), "regenerate: names.py > BENCHMARK.json"
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        want = {m["name"]: m["unit"] for m in declared[key]}
        for w in declared["workloads"]:
            out = _run(w["name"], trace)
            assert out["correct"] and out["failed"] == 0, out
            assert out["attempted"] >= 1, out
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            assert got == want, (w["name"], trace,
                                 set(got) ^ set(want))
            assert all(isinstance(v["value"], (int, float))
                       for v in out["metrics"].values())
            if trace == 0:
                assert all(v["value"] > 0
                           for v in out["metrics"].values()), out


def _bench(workload: str):
    from run import Bench
    b = Bench(argparse.Namespace(workload=workload, seed=5, seconds=1,
                                 trace=0, size="tiny"))
    b.setup()
    return b


def test_corruption_counted() -> None:
    import shutil
    b = _bench("leaf_mix")
    try:
        b._sample(b._leaf_pass)
        b._leaf_check()
        assert b.checks.failed == 0, b.checks.failures
        leaf = next(k for k, (_c, rows) in b.leaf_out.items() if rows)
        cols, rows = b.leaf_out[leaf]
        bad = list(rows[0])
        bad[0] = "corrupted" if isinstance(bad[0], str) else -12345
        b.leaf_out = {leaf: (cols, [tuple(bad)] + list(rows[1:]))}
        b._leaf_check()
        assert b.checks.failed == 1, b.checks.failures
    finally:
        b.stop()
        shutil.rmtree(b.work, ignore_errors=True)

    b = _bench("kg_build")
    try:
        b._sample(b._kg_pass)
        b._kg_check(b.sink, "intact")
        assert b.checks.failed == 0, b.checks.failures
        victim = sorted(glob.glob(os.path.join(
            b.sink.stage_path("triples"), "_run=0", "pred=*",
            "*.parquet")))[0]
        os.remove(victim)
        b._kg_check(b.sink, "corrupted")
        assert b.checks.failed >= 1, b.checks.failures
    finally:
        b.stop()
        shutil.rmtree(b.work, ignore_errors=True)


def main() -> int:
    tests = [test_generator_deterministic, test_corruption_counted,
             test_names_emitted]
    for t in tests:
        t()
        print(f"selftest: {t.__name__} ok", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
