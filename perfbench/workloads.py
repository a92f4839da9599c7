"""The benchmark workloads: what one pass runs, what set-up builds, and
how each output is checked against an independent DuckDB answer.

Every operation's result is collected to the driver, as a caller would
consume it; the outputs of the last timed pass are the ones checked, after
the timers stop.

- ga4_medallion: the paper's own path. Nested GA4 export rows ->
  `extract_events` -> set-based `BronzePipeline.backfill` into a fresh
  bronze root -> sidecars -> the idempotent re-run (listing only) ->
  `status` -> `read_table(GA4_EVENTS)` -> `ga4_silver` -> gold views.
  The only workload where the bronze sink and Hadoop-FS listing do most
  of the work, and it writes and reads the same layer in every pass.
- operators: the registry's operators in two families. LLM data-prep
  (MinHash-LSH pairs from the persisted pair frame, benchmark
  contamination, sorted-neighbourhood name pairs; the last two are open
  performance regressions) and iterative graph operators over the
  persisted co-purchase frame (label propagation, PageRank), bound
  by driver round-trips (DataFrame build time and job count) rather than
  executor work. The per-operation census keeps the families apart.

Each workload's `fill` builds the persisted state its passes read; set-up
runs it once per fresh state.
"""

from __future__ import annotations

import os
from datetime import timedelta

from pyspark.sql import functions as F

import gen

TRAINING_OPS = (
    "lsh_dedup_pairs",
    "contamination",
    "snm_name_pairs",
)
GRAPH_OPS = (
    "part_communities",
    "part_pagerank",
)
GOLD_VIEWS = (
    "funnel",
    "sessions",
    "conversion_daily",
)
WORKLOADS = ("ga4_medallion", "operators")


def _unpersist(spark) -> None:
    from bench import _unpersist_all_rdds

    spark.catalog.clearCache()
    _unpersist_all_rdds(spark)


class Workload:
    """One workload bound to one run: `spark`, the generated inputs in
    `in_dir`, and a per-set-up `state_dir` for everything it writes."""

    name = ""
    ops: tuple[str, ...] = ()

    def __init__(self, in_dir: str, info: dict):
        self.in_dir = in_dir
        self.info = info
        self.input_rows = sum(info["rows"].values())
        self.spark = None
        self.tracer = None
        self.state_dir = ""
        self.failures: list[str] = []
        self.outputs: dict[str, tuple[list[str], list[tuple]]] = {}

    def bind(self, spark, tracer, state_dir: str) -> None:
        self.spark, self.tracer, self.state_dir = spark, tracer, state_dir
        os.makedirs(state_dir, exist_ok=True)

    def fill(self) -> None:
        """Build the persisted state the passes read (the `.cache` frames
        of the registry's build-once helpers, indexes, tables)."""

    def trace_layers(self, tracer) -> None:
        """Install spans around layers called from inside the engine."""

    def run_pass(self, n: int) -> int:
        """One pass; returns the number of operations attempted. An
        operation that raises is recorded in `failures`, never re-raised."""
        raise NotImplementedError

    def stored_bytes(self, cache_dirs: list[str]) -> int:
        raise NotImplementedError

    def check(self) -> list[str]:
        """Outside the timers: mismatches against the DuckDB answers."""
        raise NotImplementedError

    def _collect(self, name: str, df) -> None:
        self.outputs[name] = (df.columns, [tuple(r) for r in df.collect()])

    def _op(self, name: str, fn) -> None:
        tr = self.tracer
        try:
            with tr.span(name, group=True) as rec:
                fn()
            if rec is not None:
                from census import persisted_blocks

                rec["persisted"] = persisted_blocks(self.spark)
        except Exception as e:  # counted in op_ok_ratio; the run goes on
            self.failures.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
        finally:
            _unpersist(self.spark)

    def _registry_op(self, name: str) -> None:
        from commerce_data_pipeline_spark.queries import REGISTRY

        tr = self.tracer

        def run():
            with tr.span(f"{name}.build"):
                df = REGISTRY[name].spark(self.spark, self.in_dir)
            with tr.span(f"{name}.exec"):
                self._collect(name, df)

        self._op(name, run)


def _compare(name, output, con, oracle_sql) -> list[str]:
    """Row count, column names and order-insensitive value hash of one
    collected output against its DuckDB answer."""
    from tools.oracle_check import frame_hash

    if output is None:
        return [f"{name}: no output to check"]
    cols, rows = output
    rel = con.sql(oracle_sql)
    ocols, orows = rel.columns, rel.fetchall()
    if len(rows) != len(orows):
        return [f"{name}: {len(rows)} rows vs oracle {len(orows)}"]
    if sorted(cols) != sorted(ocols):
        return [f"{name}: columns {sorted(cols)} vs oracle {sorted(ocols)}"]
    if frame_hash(cols, rows) != frame_hash(ocols, orows):
        return [f"{name}: value hash differs from oracle"]
    return []


class Operators(Workload):
    name = "operators"
    ops = TRAINING_OPS + GRAPH_OPS

    def fill(self) -> None:
        from commerce_data_pipeline_spark.queries._shared import _ensure_copurchase_pairs
        from commerce_data_pipeline_spark.queries.dedup_text import _ensure_lsh_pairs

        with self.tracer.span("cache.lsh_pairs", group=True):
            _ensure_lsh_pairs(self.spark, self.in_dir)
        with self.tracer.span("cache.copurchase", group=True):
            _ensure_copurchase_pairs(self.spark, self.in_dir)

    def run_pass(self, n: int) -> int:
        for op in self.ops:
            self._registry_op(op)
        return len(self.ops)

    def stored_bytes(self, cache_dirs: list[str]) -> int:
        from census import dir_bytes

        return sum(dir_bytes(d)[1] for d in cache_dirs)

    def check(self) -> list[str]:
        import duckdb

        from commerce_data_pipeline_spark.queries import REGISTRY

        con = duckdb.connect()
        for t in self.info["rows"]:
            p = os.path.join(self.in_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return [m for op in self.ops
                for m in _compare(op, self.outputs.get(op), con, REGISTRY[op].oracle)]


class Ga4Medallion(Workload):
    name = "ga4_medallion"
    ops = ("bronze.backfill", "bronze.sidecar", "bronze.rerun", "bronze.status") + tuple(
        f"gold_ga4.{v}" for v in GOLD_VIEWS
    )

    def __init__(self, in_dir: str, info: dict):
        super().__init__(in_dir, info)
        days = gen.SIZES[self.name]["days"]
        self.start = gen.GA4_START
        self.end = gen.GA4_START + timedelta(days=days - 1)
        self.summary: dict = {}
        self.rerun: dict = {}
        self.status: dict = {}
        self.bronze_root = ""

    def trace_layers(self, tracer) -> None:
        """Span the bronze calls made from inside `backfill` (traced runs)."""
        from commerce_data_pipeline_spark.sources.bronze import BronzePipeline, BronzeWriter

        tracer.wrap(BronzeWriter, "write", "bronze.write")
        tracer.wrap(BronzeWriter, "exists", "bronze.exists")
        tracer.wrap(BronzePipeline, "_count_partition", "bronze.verify")

    def _source(self):
        from commerce_data_pipeline_spark.schemas import GA4_EXPORT_RAW
        from commerce_data_pipeline_spark.sources.ga4_extract import extract_events

        raw = self.spark.read.schema(GA4_EXPORT_RAW).parquet(
            os.path.join(self.in_dir, "ga4_raw")
        )
        with self.tracer.span("ga4_extract.build"):
            out = extract_events(raw)
        return out.withColumn("event_dt", F.to_date("event_date", "yyyyMMdd"))

    def _pipeline(self, root: str):
        from commerce_data_pipeline_spark.sources.bronze import BronzePipeline, BronzeWriter

        writer = BronzeWriter(root=root, data_type="ga4_events")
        return BronzePipeline(
            spark=self.spark, source=self._source, writer=writer,
            date_col="event_dt", sort_col="event_timestamp",
        )

    def _silver(self, pipe):
        from commerce_data_pipeline_spark import gold_ga4
        from commerce_data_pipeline_spark.schemas import GA4_EVENTS

        return gold_ga4.ga4_silver(pipe.writer.read_table(GA4_EVENTS))

    def run_pass(self, n: int) -> int:
        import shutil

        from commerce_data_pipeline_spark import gold_ga4
        from commerce_data_pipeline_spark.sources.ga4_extract import EXTRACTED_COLUMNS

        old = self.bronze_root
        self.bronze_root = os.path.join(self.state_dir, f"bronze_{n}")
        pipe = self._pipeline(self.bronze_root)
        w = pipe.writer
        columns = list(EXTRACTED_COLUMNS) + ["event_dt"]

        def backfill():
            self.summary = pipe.backfill(self.start, self.end, skip_existing=True)

        def sidecars():
            for r in self.summary["results"]:
                w.write_metadata(r["date"], r["records"], columns)

        def rerun():
            self.rerun = pipe.backfill(self.start, self.end, skip_existing=True)

        def status():
            self.status = pipe.status(days_back=None)

        self._op("bronze.backfill", backfill)
        self._op("bronze.sidecar", sidecars)
        self._op("bronze.rerun", rerun)
        self._op("bronze.status", status)
        for v in GOLD_VIEWS:
            fn = getattr(gold_ga4, f"ga4_{v}")
            self._op(f"gold_ga4.{v}",
                     lambda v=v, fn=fn: self._collect(f"gold_ga4.{v}", fn(self._silver(pipe))))
        if old:
            shutil.rmtree(old, ignore_errors=True)
        return len(self.ops)

    def stored_bytes(self, cache_dirs: list[str]) -> int:
        from census import dir_bytes

        return dir_bytes(self.bronze_root)[1]

    def check(self) -> list[str]:
        import duckdb

        bad = []
        raw = os.path.join(self.in_dir, "ga4_raw", "*", "*.parquet")
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW raw AS SELECT * FROM read_parquet('{raw}', hive_partitioning=true, "
            "hive_types={'event_date': VARCHAR})"
        )
        want = dict(con.sql(
            "SELECT strftime(strptime(event_date, '%Y%m%d'), '%Y-%m-%d'), COUNT(*) "
            "FROM raw GROUP BY 1"
        ).fetchall())
        days = [(self.start + timedelta(days=i)).isoformat()
                for i in range((self.end - self.start).days + 1)]
        if sorted(want) != days:
            bad.append(f"generated dates {sorted(want)} are not {days[0]}..{days[-1]}")
        pipe = self._pipeline(self.bronze_root)
        got = {r["date"]: r["records"] for r in self.summary.get("results", [])}
        for d in days:
            part = os.path.join(pipe.writer.partition_path(d), "*.parquet")
            n_bronze = con.sql(f"SELECT COUNT(*) FROM read_parquet('{part}')").fetchone()[0]
            meta = pipe.writer.read_metadata(d) or {}
            if not (want.get(d) == n_bronze == got.get(d) == meta.get("record_count")):
                bad.append(
                    f"bronze {d}: raw {want.get(d)}, bronze {n_bronze}, "
                    f"backfill {got.get(d)}, sidecar {meta.get('record_count')}"
                )
        if self.rerun.get("skipped_days") != len(days) or self.rerun.get("total_records"):
            bad.append(f"idempotent re-run wrote data: {self.rerun}")
        if not self.status.get("is_healthy") or self.status.get("missing_dates"):
            bad.append(f"status not healthy after backfill: {self.status}")
        bad += _compare("gold_ga4.funnel", self.outputs.get("gold_ga4.funnel"),
                        con, _GA4_FUNNEL_SQL)
        bad += _compare("gold_ga4.conversion_daily", self.outputs.get("gold_ga4.conversion_daily"),
                        con, _GA4_CONVERSION_SQL)
        return bad


# DuckDB answers over the raw export, written from the gold views'
# documented semantics (analytics.funnel / analytics.conversion_metrics).
_GA4_SILVER_SQL = """
SELECT make_timestamp(event_timestamp) AS ts, user_pseudo_id AS user_id, event_name,
       COALESCE(ecommerce.purchase_revenue, 0.0) AS revenue
FROM raw
"""
_GA4_FUNNEL_SQL = f"""
WITH s AS ({_GA4_SILVER_SQL}),
f AS (
  SELECT user_id,
         MIN(CASE WHEN event_name = 'page_view' THEN ts END) AS t0,
         MIN(CASE WHEN event_name = 'add_to_cart' THEN ts END) AS t1,
         MIN(CASE WHEN event_name = 'purchase' THEN ts END) AS t2
  FROM s GROUP BY user_id
),
r AS (
  SELECT t0 IS NOT NULL AS r0,
         t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0 AS r1,
         t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0 AND t2 IS NOT NULL AND t2 >= t1 AS r2
  FROM f
)
SELECT * FROM (
  SELECT 0 AS stage_index, 'page_view' AS stage, SUM(r0::BIGINT) AS users FROM r
  UNION ALL SELECT 1, 'add_to_cart', SUM(r1::BIGINT) FROM r
  UNION ALL SELECT 2, 'purchase', SUM(r2::BIGINT) FROM r
)
"""
_GA4_CONVERSION_SQL = f"""
WITH s AS ({_GA4_SILVER_SQL})
SELECT strftime(ts, '%Y-%m-%d') AS day,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(DISTINCT CASE WHEN event_name = 'purchase' THEN user_id END) AS n_converters,
       SUM(CASE WHEN event_name = 'purchase' THEN revenue ELSE 0.0 END) AS converted_value,
       COUNT(DISTINCT CASE WHEN event_name = 'purchase' THEN user_id END)::DOUBLE
         / COUNT(DISTINCT user_id)::DOUBLE AS conversion_rate
FROM s GROUP BY 1
"""


def make(name: str, in_dir: str, info: dict) -> Workload:
    return {"ga4_medallion": Ga4Medallion, "operators": Operators}[name](in_dir, info)
