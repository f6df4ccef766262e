"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q     # from the repo root

The two count-repeat tests run the traced benchmark twice each (about
six minutes in all).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402


def _digest(path: str) -> dict[str, str]:
    out = {}
    for dp, _, fns in os.walk(path):
        for fn in fns:
            p = os.path.join(dp, fn)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_same_bytes_other_seed_differs(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.generate(7, a)
    gen.generate(7, b)
    gen.generate(8, c)
    da, db, dc = _digest(a), _digest(b), _digest(c)
    assert da == db
    assert set(da) == set(dc)
    # region and nation are fixed TPC-H dimension tables
    fixed = {"tables/region.parquet", "tables/nation.parquet"}
    assert all(
        da[f] != dc[f] for f in da
        if f not in fixed and not f.endswith("_manifest.json")
    )


def _traced(workload: str, seed: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "2", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"]
    return {k: v["value"] for k, v in out["metrics"].items()}


@pytest.mark.parametrize("workload,names", [
    ("cdc_stream", ["cdc.pipeline.jobs_per_batch",
                    "operators.merge.partitions_rewritten",
                    "operators.merge.bytes_written"]),
    ("lake_serve", ["operators.minhash.candidate_pairs"]),
])
def test_counts_repeat_exactly(workload, names):
    first, second = _traced(workload, 3), _traced(workload, 3)
    for n in names:
        assert first[n] > 0, n
        assert first[n] == second[n], (n, first[n], second[n])


class _Sheet:
    def __init__(self) -> None:
        self.results: dict[str, bool] = {}

    def check(self, name, ok, detail=None) -> bool:
        self.results[name] = bool(ok)
        return bool(ok)


def test_corrupted_lake_row_fails_the_check(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import SparkSession

    from checks import check_lake
    from data_engineering_spark.cdc.pipeline import CdcEngine, LakeConfig
    from tests.cdc_fixtures import ENVELOPE_SCHEMA

    log = str(tmp_path / "log")
    manifest = gen.change_log(5, log, 3)
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    lake = str(tmp_path / "lake")
    engine = CdcEngine(spark, LakeConfig(root=lake))
    batches = [[os.path.join(log, f)] for f in manifest["files"]]
    for paths in batches:
        engine.process_batch(spark.read.schema(ENVELOPE_SCHEMA).parquet(*paths))
    planted = {
        t: sum(m[t] for m in manifest["malformed"]) for t in ("orders", "accounts")
    }

    clean = _Sheet()
    assert check_lake(clean, engine.tables, batches, lake, planted, None)

    victim = next(
        os.path.join(dp, fn)
        for dp, _, fns in sorted(os.walk(engine.tables["orders"].path))
        for fn in sorted(fns) if fn.endswith(".parquet")
    )
    # one row's amount changes; everything else about the file stays
    table = pq.read_table(victim)
    i = table.schema.get_field_index("amount")
    amounts = table.column(i).to_pylist()
    amounts[0] += 1.0
    table = table.set_column(i, table.schema.field(i), pa.array(amounts, pa.float64()))
    os.remove(victim)
    crc = os.path.join(os.path.dirname(victim), f".{os.path.basename(victim)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    # Spark stores timestamps as INT96; keep that physical type
    pq.write_table(table, victim, use_deprecated_int96_timestamps=True)

    corrupted = _Sheet()
    assert not check_lake(corrupted, engine.tables, batches, lake, planted, None)
    assert corrupted.results["lake.orders.replay"] is False
    assert corrupted.results["lake.accounts.replay"] is True


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cdc_stream",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
