"""Self-tests of the benchmark itself, at a tiny input scale.

    python3 -m pytest perfbench -q -p no:cacheprovider

Each test launches its own Spark driver JVM; the file takes about six
minutes. They check that every workload runs and passes its oracle,
that the traced run reproduces the untraced run's per-stage row counts
and reports the layers each workload should, and that a tampered
output is counted as a failed run.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import run  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

SCALE = 0.05


def _bench(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", str(SCALE)],
        stdout=subprocess.PIPE, text=True, timeout=600, check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_untraced(workload):
    res = _bench(workload, 0)
    assert res["correct"] and res["attempted"] == 1 and res["failed"] == 0, res
    assert all(m["value"] > 0 for m in res["metrics"].values()), res


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_traced(workload):
    """A traced run fails unless its per-stage row counts equal the
    untraced run's manifests and every stage of the re-run resumed, so
    ``correct`` covers those checks."""
    res = _bench(workload, 1)
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert res["correct"] and res["failed"] == 0, res
    assert m["pipeline.resume_s"] > 0
    if workload == "codekg_build":
        assert m["codekg.extract.python_nodes"] > 0
        assert m["codekg.fold.rows_out"] > 0 and m["cc.distributed"] == 0
        assert m["pipeline.append.rows_out"] > 0
        assert m["append.cc.distributed"] == 1 and m["append.cc.edges"] > 25_000
    else:
        assert m["extract.python_nodes"] > 0
        assert m["triples.rows_out"] == 13 * m["link.assemble.rows_out"]
        assert m["ops.dedup.minhash.pairs_out"] > 0
        assert m["ops.dedup.groups.cc_distributed"] == 0


def _drop_one_triple(out: str) -> None:
    for path in sorted(glob.glob(os.path.join(out, "triples", "data", "**", "*.parquet"),
                                 recursive=True)):
        table = pq.read_table(path)
        if table.num_rows:
            pq.write_table(table.slice(1), path)
            return
    raise AssertionError(f"no triples under {out}")


def test_tampered_output_counts_as_failed(monkeypatch):
    work = os.path.join(HERE, ".work", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    run.launch_settings(work)
    spark = run.start_spark(work, trace=False)
    try:
        for name in sorted(WORKLOADS):
            wl = WORKLOADS[name](os.path.join(work, name), 3, SCALE)
            wl.make_inputs()
            wl.make_oracle()
            check = wl.check

            def tampered_check(out, info, check=check):
                _drop_one_triple(out)
                check(out, info)

            monkeypatch.setattr(wl, "check", tampered_check)
            runs = run.Runs()
            metrics = run.measure(wl, spark, 1, runs)
            assert runs.attempted == 1 and len(runs.errors) == 1, (name, runs.errors)
            assert runs.errors[0].startswith("Mismatch"), (name, runs.errors)
            assert metrics["wall_s"][0] == 0.0, (name, metrics)
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
