"""The benchmark's workloads. Each is a closed loop with one client on
one SparkSession; the seed sets the entry order within each pass.

- ``headline``: the 13 headline registry queries and six registry
  entries that run Python workers, at sf0.01, warm, each built with
  ``spec.spark`` and executed to the ``noop`` sink. Build, planning and
  Spark jobs each take a large share of an op, so every query layer
  shows. None of the 13 crosses into Python at this scale (the
  similarity queries stay in the JVM below 100,000 rows); the six
  entries (pandas and Arrow UDFs) make the Python-worker layers show.
- ``sweep``: every registry entry once per pass at sf0.001, EAGER memo
  cleared before each entry. The data is negligible, so each op is the
  fixed per-query cost: construction, planning, scheduling, worker
  start. It includes the streaming, EAGER and Python-worker entries. A
  run takes minutes, so it is run by hand, not listed in BENCHMARK.json.
- ``refresh``: the CLI ``run`` lifecycle (preflight -> materialize ->
  data tests) repeated into one persistent warehouse that keeps two
  snapshots, the reference's scheduled steady state. The only workload
  that writes.

Every op that raises is recorded with its error class and the run goes
on. Each entry's output is checked once against ``expected.json`` (see
``oracle.py``), outside the timed region: a query entry's warm-up run is
collected and checked; the refresh's models are counted after the timed
passes. A mismatch counts as a failed op.
"""

from __future__ import annotations

import os
import random

from perfbench import oracle

HEADLINE = (
    "stage_rides",
    "pricing_summary",
    "revenue_by_nation",
    "shipping_priority",
    "forecast_revenue",
    "window_topk_orders",
    "events_sessionize",
    "asof_purchase_click",
    "dedup_exact",
    "text_stats",
    "ngram_jaccard",
    "minhash_pairs",
    "cosine_topk",
)
HEADLINE_SF = "sf0.01"
# Registry entries whose event log shows Python-worker metrics. Three
# more do at sf0.001 (cosine_topk_ivf, cosine_topk_lsh,
# streaming_user_totals) but take 2-4 s each, which the run's time
# budget does not allow.
UDF = (
    "audio_pipeline",
    "compression_signal",
    "heavy_hitters",
    "image_pipeline",
    "mg_estimates",
    "video_frames",
)
SWEEP_SF = "sf0.001"
KEEP_VERSIONS = 2
# Untimed refreshes before the first timed one, at least KEEP_VERSIONS.
# A session's refreshes speed up over the first four or so (about 20, 9,
# 7, 6, then 5.5-6 s at 4 cores) while the JVM compiles the write path;
# timing starts near the end of that ramp, so the slowest timed refresh,
# op_tail_s, is not a warm-up residue.
WARM_REFRESHES = 3


class Failure(Exception):
    """An op that returned without the output it should have."""


class Mismatch(Failure):
    """An op whose output differs from its expected value."""


def _tree_bytes(root) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(root) for f in files
    )


class QueryWorkload:
    """Registry entries run to the ``noop`` sink."""

    op_name = "query"

    def __init__(self, name: str, entries: tuple[str, ...] | None, sf: str,
                 clear_eager: bool, min_passes: int):
        self.name = name
        self.entries = entries
        self.sf = sf
        self.clear_eager = clear_eager
        self.min_passes = min_passes

    def prepare(self, spark, tmp: str, tracer) -> None:
        from nycitibike_data_transform_spark import queries

        self.spark = spark
        self.tracer = tracer
        self.sf_dir = str(oracle.DATA / self.sf)
        self.memo = queries._EAGER_CACHE
        registry = queries.all_queries()
        self.specs = {n: registry[n] for n in (self.entries or registry)}

    def order(self, seed: int, pass_no: int) -> list[str]:
        names = list(self.specs)
        random.Random(f"{seed}:{pass_no}").shuffle(names)
        return names

    def _build(self, name: str):
        if self.clear_eager:
            self.memo.clear()
        with self.tracer.span("build"):
            return self.specs[name].spark(self.spark, self.sf_dir)

    def run_op(self, name: str) -> None:
        df = self._build(name)
        with self.tracer.span("sink"):
            df.write.mode("overwrite").format("noop").save()

    def warm_up(self, expected: dict) -> list[tuple[str, str | None]]:
        """One untimed run per entry, collected and checked against its
        expected hash; returns ``(entry, error class or None)``."""
        want = expected["queries"][self.sf]
        out = []
        for name in self.specs:
            try:
                df = self._build(name)
                rows = [tuple(r) for r in df.collect()]
                if name not in want:
                    raise Failure(f"{name}: no expected hash")
                if oracle.result_hash(df.columns, rows) != want[name]:
                    raise Mismatch(f"{name}: result hash mismatch")
                out.append((name, None))
            except Exception as exc:  # noqa: BLE001 - one entry's failure is recorded, not fatal
                out.append((name, type(exc).__name__))
        return out

    def check_after(self, expected: dict) -> list[tuple[str, str | None]]:
        return []

    def stored_bytes(self) -> int:
        """The input tables the workload scans."""
        return _tree_bytes(self.sf_dir)


class RefreshWorkload:
    """``python -m nycitibike_data_transform_spark run`` in-process."""

    name = "refresh"
    op_name = "refresh"
    min_passes = 2

    def __init__(self, sf: str):
        self.sf = sf

    def prepare(self, spark, tmp: str, tracer) -> None:
        from nycitibike_data_transform_spark.__main__ import main

        self.spark = spark
        self.main = main
        self.input = oracle.make_refresh_input(os.path.join(tmp, "refresh_input"), self.sf)
        self.warehouse = os.path.join(tmp, "warehouse")

    def order(self, seed: int, pass_no: int) -> list[str]:
        return ["refresh"]

    def warm_up(self, expected: dict) -> list[tuple[str, str | None]]:
        """``WARM_REFRESHES`` bootstrap refreshes: at least
        ``KEEP_VERSIONS`` snapshots then exist, so every timed refresh
        also vacuums one. The check follows the timed passes."""
        for _ in range(WARM_REFRESHES):
            self.run_op("refresh")
        return []

    def run_op(self, name: str) -> None:
        argv = ["run", "--sf-dir", self.input, "--warehouse", self.warehouse,
                "--keep-versions", str(KEEP_VERSIONS)]
        rc = self.main(argv, spark=self.spark)
        if rc != 0:
            raise Failure(f"refresh exited {rc}")

    def check_after(self, expected: dict) -> list[tuple[str, str | None]]:
        """Row count of each model's current snapshot; the data tests
        already ran inside every refresh (rc 0)."""
        from nycitibike_data_transform_spark.versioning import VersionedTable

        want = expected["refresh"][self.sf]
        out = []
        for model in oracle.REFRESH_MODELS:
            try:
                table = VersionedTable(os.path.join(self.warehouse, model))
                n = table.read_current(self.spark).count()
                if n != want[model]:
                    raise Mismatch(f"{model}: {n} rows, expected {want[model]}")
                out.append((model, None))
            except Exception as exc:  # noqa: BLE001 - recorded per model
                out.append((model, type(exc).__name__))
        return out

    def stored_bytes(self) -> int:
        """The warehouse after a refresh, retained snapshots included."""
        return _tree_bytes(self.warehouse)


def make(name: str, sf: str | None) -> QueryWorkload | RefreshWorkload:
    if name == "headline":
        return QueryWorkload("headline", HEADLINE + UDF, sf or HEADLINE_SF, clear_eager=False,
                             min_passes=2)
    if name == "sweep":
        return QueryWorkload("sweep", None, sf or SWEEP_SF, clear_eager=True, min_passes=1)
    if name == "refresh":
        return RefreshWorkload(sf or oracle.REFRESH_SF)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("headline", "sweep", "refresh")
