"""Layer-bypass predictions of the benchmark, checked on short traced runs.

Each workload is chosen to exercise some engine layers and to bypass
others. If a change to the mix (or to the engine) stops a workload from
exercising or bypassing its layer, these tests fail:

- ``tpch_mix`` ops make zero ``operators._shared`` calls and send zero
  bytes to Python workers;
- ``llm_dedup_cold`` ops miss the shared cache (every pass starts cold)
  and later consumers hit it (``shared.hit_ratio`` > 0);
- ``etl_convert`` CSV ops write zero shuffle bytes;
- ``stream_events`` ops record micro-batches.

Run from the repository root (each fixture starts one Spark application;
about three minutes in all on a 4-vCPU machine)::

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SEED = 11


def traced_run(workload: str) -> dict:
    """One traced run with a one-second window (one timed pass); returns
    the span file's per-family per-layer metrics."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"], proc.stdout[-3000:]
    path = os.path.join(ROOT, ".perfbench", "results", f"spans-{workload}-seed{SEED}.json")
    with open(path) as f:
        return json.load(f)["per_family"]


@pytest.fixture(scope="module")
def query_mix():
    return traced_run("query_mix")


@pytest.fixture(scope="module")
def etl_convert():
    return traced_run("etl_convert")


def test_tpch_mix_bypasses_shared_cache_and_python(query_mix):
    tpch = query_mix["tpch_mix"]
    for k in ("shared.df_hits", "shared.df_misses", "shared.bc_hits", "shared.bc_misses"):
        assert tpch[k] == 0, k
    assert tpch["exec.python.bytes_sent"] == 0
    assert tpch["exec.jobs"] > 0 and tpch["exec.shuffle.write_bytes"] > 0


def test_llm_dedup_cold_builds_then_reuses_shared_artifacts(query_mix):
    llm = query_mix["llm_dedup_cold"]
    assert llm["shared.df_misses"] > 0
    assert llm["shared.hit_ratio"] > 0
    assert llm["exec.python.bytes_sent"] > 0


def test_stream_events_runs_micro_batches(query_mix):
    stream = query_mix["stream_events"]
    assert stream["stream.batches"] > 0
    assert stream["stream.trigger_ms"] > 0
    assert query_mix["tpch_mix"]["stream.batches"] == 0


def test_etl_csv_convert_does_not_shuffle(etl_convert):
    csv = etl_convert["etl_csv"]
    assert csv["exec.shuffle.write_bytes"] == 0
    assert csv["exec.output_bytes"] > 0
    assert csv["sources.scan_amplification"] > 1  # inferSchema reads the file twice
    assert etl_convert["etl_xlsx"]["sources.xlsx_lite.rows"] > 0
