"""The benchmark's workloads: what one op is, what one pass is, and how
each op's output is checked.

Every workload is ONE client in a CLOSED loop: an op starts when the
previous op has returned. Ops are grouped into passes; the seed sets
how the op families interleave in every pass, and the timed window
always holds whole passes (see ``run.py``).

- ``etl_convert`` — the reference's own job. One op is one
  ``catme_etl_spark.convert.convert`` call writing JSON part files to a
  benchmark-owned directory (deleted between ops, outside the timed
  window). A pass is four ops: three convert the seeded CSV, the fourth
  converts the seeded ``.xlsx`` (read through ``sources.xlsx_lite``).
- ``query_mix`` — the engine's query surface. One op is one
  ``__spark_entry__.queries()[name](spark, tables_dir)`` call forced
  through Spark's ``noop`` sink. A pass runs three op families in one
  seeded interleaving, after ``operators._shared.clear_shared()`` and
  ``spark.catalog.clearCache()`` (so every shared artifact is built
  once per pass and reused by its later consumers):

  * ``tpch_mix``: JVM-only relational queries (parquet scans, joins,
    shuffles, AQE; no shared artifacts, no Python workers);
  * ``llm_dedup_cold``: dedup / similarity / text operators (session
    cache, broadcasts, Arrow and Python-worker UDFs);
  * ``stream_events``: Structured Streaming jobs run ``AvailableNow``
    over ``events`` (micro-batch scheduling, offset/commit logs, state
    store).
"""

from __future__ import annotations

import json
import os
import random
import shutil
from dataclasses import dataclass, field

# Each family keeps the queries of its kind that fit one ~12 s warm
# pass on 2 task slots and whose check costs about a second at sf0.1
# (QUERIES.md lists the rest of each family).
TPCH_MIX = [
    "q1_pricing_summary",
    "tpch_q18_large_volume_customers",
    "events_tumbling_10min",
]
LLM_DEDUP_COLD = [
    "dedup_minhash_lsh_pairs",  # builds and reuses the MinHash artifacts
    "dedup_minhash_incremental",
    "sim_ivf_topk",  # broadcasts + mapInPandas (Python workers)
    "text_top_tokens",
    "text_boilerplate_chunks",
]
STREAM_EVENTS = [
    "stream_tumbling_10min",
]
FAMILIES = {
    "tpch_mix": TPCH_MIX,
    "llm_dedup_cold": LLM_DEDUP_COLD,
    "stream_events": STREAM_EVENTS,
}
FAMILY_OF = {q: fam for fam, qs in FAMILIES.items() for q in qs}

# etl_convert pass: three CSV converts, then one workbook convert
ETL_PASS = ["csv", "csv", "csv", "xlsx"]


@dataclass
class OpResult:
    op_id: str
    name: str
    family: str
    start: float
    end: float
    rows: int | None = None
    error: str | None = None
    extra: dict = field(default_factory=dict)

    @property
    def latency(self) -> float:
        return self.end - self.start


def pass_order(families: dict[str, list[str]], rng: random.Random) -> list[str]:
    """A seeded interleaving of the families; inside a family the ops keep
    their listed order, so the same consumer pays each shared build."""
    labels = [fam for fam, names in families.items() for _ in names]
    rng.shuffle(labels)
    queues = {fam: iter(names) for fam, names in families.items()}
    return [next(queues[fam]) for fam in labels]


# ---------------------------------------------------------------------------
# query ops
# ---------------------------------------------------------------------------


def run_query(spark, qfn, tables_dir: str, tracer=None) -> int:
    """Plan the query, then execute it through the ``noop`` sink with a
    row-count observation riding the write. Returns the row count."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    if tracer is None:
        df = qfn(spark, tables_dir)
    else:
        with tracer.span("operators.plan"):
            df = qfn(spark, tables_dir)
        tracer.mark_sink_start()
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("n"))
    df.write.format("noop").mode("overwrite").save()
    return int(obs.get["n"])


def oracle_check(results: dict, tables_dir: str, oracles: dict) -> dict[str, str]:
    """Compare each collected result against its DuckDB oracle over
    the same parquet tables, with ``tools/check_oracle.py``'s
    canonicalise-and-hash rule. Returns ``{name: reason}`` for every
    mismatch; queries without an oracle only need rows > 0."""
    import duckdb

    from tools.check_oracle import TABLES, _apply_prefix_artifacts, _canon, _hash

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    done: dict = {}
    bad: dict[str, str] = {}
    for name, sdf in results.items():
        if name not in oracles:
            if len(sdf) == 0:
                bad[name] = "no oracle and the result is empty"
            continue
        try:
            odf = con.execute(_apply_prefix_artifacts(con, oracles[name], done)).fetchdf()
        except Exception as ex:  # an oracle that cannot run is a failure too
            bad[name] = f"duckdb error: {type(ex).__name__}: {ex}"
            continue
        sc, oc = _canon(sdf), _canon(odf)
        if list(sc.columns) != list(oc.columns):
            bad[name] = f"columns {list(sc.columns)} != {list(oc.columns)}"
        elif len(sc) != len(oc):
            bad[name] = f"rows {len(sc)} != oracle {len(oc)}"
        elif _hash(sc) != _hash(oc):
            bad[name] = "value hash differs from the oracle"
    con.close()
    return bad


# ---------------------------------------------------------------------------
# etl_convert ops
# ---------------------------------------------------------------------------


def run_convert(spark, convert_fn, in_path: str, out_dir: str) -> int:
    shutil.rmtree(out_dir, ignore_errors=True)
    return int(convert_fn(spark, in_path, out_dir).rows)


def output_size(out_dir: str) -> tuple[int, int]:
    """(bytes, files) of the JSON part files in ``out_dir``."""
    parts = [f for f in os.listdir(out_dir) if f.startswith("part-")]
    return sum(os.path.getsize(os.path.join(out_dir, f)) for f in parts), len(parts)


def check_json_output(out_dir: str, expect_rows: int, expect_null_amount: int) -> str | None:
    """Read the JSON part files back: row count, every row carries
    ``prepared``/``transformed``/``finalized`` = true, ids are exactly
    0..rows-1, and the ``amount`` null count matches the input.
    Returns a reason on mismatch, else None."""
    rows = 0
    ids = set()
    null_amount = 0
    for f in sorted(os.listdir(out_dir)):
        if not f.startswith("part-"):
            continue
        with open(os.path.join(out_dir, f), encoding="utf-8") as fh:
            for line in fh:
                r = json.loads(line)
                rows += 1
                if not (r.get("prepared") and r.get("transformed") and r.get("finalized")):
                    return f"row {r.get('id')} lacks a pipeline flag"
                ids.add(r.get("id"))
                null_amount += r.get("amount") is None
    if rows != expect_rows:
        return f"read back {rows} rows, input has {expect_rows}"
    if ids != set(range(expect_rows)):
        return "ids read back differ from the input ids"
    if null_amount != expect_null_amount:
        return f"{null_amount} null amounts read back, input has {expect_null_amount}"
    return None
