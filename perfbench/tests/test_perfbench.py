"""Tiny-scale self-test of the benchmark.

    python3 -m pytest perfbench/tests -q

Checks that every metric BENCHMARK.json names is printed with its unit,
that a perturbed output fails the correctness check, and that the
resume call of the resumable backfill launches no Spark job.
"""

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, oracle, workloads  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")
SEED = 3


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(SEED), "--seconds", "1",
         "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def resumable_runs():
    return {t: _run("backfill_resumable", t) for t in (0, 1)}


@pytest.mark.parametrize("trace,key", [(0, "end_to_end"), (1, "per_layer")])
def test_every_metric_printed_with_unit(resumable_runs, trace, key):
    result = resumable_runs[trace]
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _spec()[key]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], (int, float))
               for v in result["metrics"].values())


def test_resume_launches_no_job(resumable_runs):
    m = resumable_runs[1]["metrics"]
    assert m["io.resume_jobs"]["value"] == 0
    assert m["io.resume_s"]["value"] > 0


@pytest.mark.parametrize("name", workloads.WORKLOADS)
def test_perturbed_output_fails_the_check(name):
    wl = workloads.make(name, WORK)
    d = inputs.ensure(WORK, "tiny", SEED, wl.group)
    ref = oracle.compute(wl.reference_sql(d, SEED),
                         os.path.join(WORK, f"selftest-{name}.parquet"))
    n = wl.n_keys
    assert oracle.compare(ref, ref, n) == []
    assert oracle.checksums_match(oracle.checksum(ref, n),
                                  oracle.checksum(ref, n))
    # one value of the first numeric feature column moves by 1%
    c = next(j for j in range(n, ref.num_columns)
             if pa.types.is_floating(ref.schema.field(j).type)
             or pa.types.is_integer(ref.schema.field(j).type))
    vals = ref.column(c).cast(pa.float64()).to_pylist()
    i = next(j for j, v in enumerate(vals) if v)
    vals[i] *= 1.01
    bad = ref.set_column(c, ref.schema.field(c).name,
                         pa.array(vals, pa.float64()))
    assert oracle.compare(bad, ref, n) != []
    assert not oracle.checksums_match(oracle.checksum(bad, n),
                                      oracle.checksum(ref, n))
    # a lost row fails too
    short = ref.filter(pc.not_equal(
        pa.array(range(ref.num_rows)), ref.num_rows - 1))
    assert oracle.compare(short, ref, n) != []


def test_perturbed_bucket_fails_the_round_checksum():
    # the resumable backfill checks a round by adding up its buckets'
    # checksums; one bucket with a moved value must fail the round
    wl = workloads.make("backfill_resumable", WORK)
    d = inputs.ensure(WORK, "tiny", SEED, wl.group)
    ref = oracle.compute(wl.reference_sql(d, SEED),
                         os.path.join(WORK, "selftest-round.parquet"))
    n = wl.n_keys
    step = -(-ref.num_rows // workloads.N_BUCKETS)
    parts = [ref.slice(i * step, step) for i in range(workloads.N_BUCKETS)]
    want = oracle.checksum(ref, n)
    sums = [oracle.checksum(p, n) for p in parts]
    assert oracle.checksums_match(workloads.add_checksums(sums), want)
    c = n + 1  # sum(n_tok)
    vals = parts[1].column(c).cast(pa.float64()).to_pylist()
    i = next(j for j, v in enumerate(vals) if v)
    vals[i] *= 1.01
    parts[1] = parts[1].set_column(c, parts[1].schema.field(c).name,
                                   pa.array(vals, pa.float64()))
    sums[1] = oracle.checksum(parts[1], n)
    assert not oracle.checksums_match(workloads.add_checksums(sums), want)
