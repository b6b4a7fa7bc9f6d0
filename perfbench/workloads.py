"""The three benchmark workloads, run closed-loop by one client with no
think time.

A workload runs passes. A pass is a list of operations in a seeded order:
one ETL job (``vehicle_etl``), one shuffled round of the seven dashboard
queries (``dashboard_mix``), or one shuffled round of the six curation
operators (``llm_curation``). Each operation is timed on its own, and the
first (cold) pass of a run is gated for correctness.

In a traced pass the benchmark persists each layer's input, then forces
and times that layer's output inside a span, so that spans line up with
the package's layers: ``session``, ``sources``, ``functions``,
``operators`` and ``plans``.
"""

from __future__ import annotations

import os
import shutil
import statistics
from dataclasses import dataclass

from pyspark.sql import functions as F

import __spark_entry__ as entry
import datagen
from etl_dashboard_project_1_spark import session
from etl_dashboard_project_1_spark.functions.headers import HeaderCanonicalizer
from etl_dashboard_project_1_spark.operators import cleaning, dedup
from etl_dashboard_project_1_spark.plans import vehicle_pipeline as vp
from etl_dashboard_project_1_spark.sources import excel, writers
from oracle_harness import compare
from spans import Tracer, instrument


@dataclass
class Scale:
    sf: float  # star-schema scale factor (dashboard_mix)
    corpus_sf: float  # documents/embeddings scale factor (llm_curation)
    copies: int  # K: whole copies of the vehicle fixture body (vehicle_etl)


FULL = Scale(sf=0.01, corpus_sf=0.05, copies=1)
TINY = Scale(sf=0.001, corpus_sf=0.001, copies=1)


def _persisted(df):
    df = df.persist()
    return df, df.count()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class Workload:
    name = ""
    op_names: list[str] = []
    #: warm passes per 10 s of ``--seconds``, sized on a 4-core box
    passes_per_10s = 1

    def __init__(self, work_dir: str, seed: int, scale: Scale, traced: bool):
        self.work_dir = work_dir
        self.seed = seed
        self.scale = scale
        self.traced = traced

    def prepare(self) -> dict:
        """Generate the seeded inputs (no Spark); returns a description."""
        raise NotImplementedError

    def bind(self, spark) -> None:
        """Per-session state, created after set-up and before the first pass."""

    def run_op(self, spark, name: str, tracer: Tracer | None):
        raise NotImplementedError

    def gate(self, spark, name: str, output) -> tuple[bool, str]:
        raise NotImplementedError

    def after_pass(self, spark) -> None:
        pass

    def passes(self, seconds: float) -> int:
        return max(1, round(self.passes_per_10s * seconds / 10))


class Collected:
    """A query's rows as the dashboard fetched them. It offers what
    ``oracle_harness.compare`` reads from a DataFrame (schema, columns,
    collect), so the gate checks the very rows that were timed."""

    def __init__(self, df):
        self.schema = df.schema
        self.columns = df.columns
        self.rows = df.collect()

    def collect(self):
        return self.rows


#: Registry dashboard queries with a defect that keeps them out of
#: ``dashboard_mix``. Each returns ``round(sum(double), 2)`` of 2-decimal
#: price x discount products, and at an exact decimal tie Spark (HALF_UP of
#: the double's shortest repr) and the DuckDB oracle (binary rounding) can
#: disagree by 0.01. At sf0.01 one or more of them fails its oracle gate on
#: 4 of seeds 100-139 (q10 on 103: 569402.83 in Spark, 569402.82 in
#: DuckDB). ``q1_pricing_summary`` already sums in integer centi-units.
#: Put these back once they do too.
TIE_ROUNDING_QUERIES = [
    "q3_shipping_priority", "q5_local_supplier_volume", "q6_forecast_revenue",
    "q7_nation_volume", "q10_returned_items",
]


class DashboardMix(Workload):
    """Registry dashboard queries; each collects its rows to the driver,
    as a dashboard fetching them would."""

    name = "dashboard_mix"
    op_names = [
        "q1_pricing_summary", "q12_latency_priority_mix", "agg_cube_year_status",
        "agg_rollup_region_nation", "agg_percentiles", "window_running_sum",
        "topk_parts_per_brand",
    ]
    passes_per_10s = 7  # ~2 s each; the first passes are still warming up

    def prepare(self) -> dict:
        return self._tables(self.scale.sf, datagen.star_frames)

    def _tables(self, sf: float, frames) -> dict:
        self.sf_dir = os.path.join(self.work_dir, "tables")
        rows = datagen.write_tables(self.sf_dir, frames(sf, self.seed))
        self.registry, self.oracle = entry.queries(), entry.oracle_sql()
        return {"sf": sf, "rows": rows}

    def run_op(self, spark, name, tracer):
        fn = self.registry[name]
        if tracer is None:
            return Collected(fn(spark, self.sf_dir))

        def load_table(*args, **kwargs):
            with tracer.span("session.load_table"):
                return real_load_table(*args, **kwargs)

        real_load_table = session.load_table
        with tracer.span(f"plans.{name}"), instrument(real_load_table, load_table):
            return Collected(fn(spark, self.sf_dir))

    def gate(self, spark, name, output):
        return compare(spark, lambda _s, _d: output, self.oracle[name], self.sf_dir)


class LlmCuration(Workload):
    """North-star curation operators over ``documents``/``embeddings``,
    each forced through the noop sink."""

    name = "llm_curation"
    #: registry operator -> the layer span it is timed under
    spans = {
        "dedup_exact": "operators.dedup.exact",
        "dedup_minhash_lsh": "operators.dedup.minhash",
        "text_quality": "operators.textops.quality",
        "text_pii_scrub": "operators.textops.pii",
        "pack_chunks_manifest": "operators.textops.pack",
        "sim_cosine_topk": "operators.vector.topk",
    }
    op_names = list(spans)
    passes_per_10s = 5  # ~2-3 s each; the first passes are still warming up

    _tables = DashboardMix._tables

    def prepare(self) -> dict:
        return self._tables(self.scale.corpus_sf, datagen.corpus_frames)

    def run_op(self, spark, name, tracer):
        fn = self.registry[name]
        if tracer is None:
            _noop(fn(spark, self.sf_dir))
            return None
        bands = []

        def band_table(*args, **kwargs):
            out = real_band_table(*args, **kwargs)
            bands.append(out)
            return out

        real_band_table = dedup.minhash_band_table
        with instrument(real_band_table, band_table):
            with tracer.span(self.spans[name]):
                df = fn(spark, self.sf_dir)
                _noop(df)
        if bands:
            # LSH candidates as the operator defines them: distinct id pairs
            # sharing a (band, band-hash) bucket; verified = pairs kept
            a, b = bands[0].alias("a"), bands[0].alias("b")
            candidates = (
                a.join(b, (F.col("a._band") == F.col("b._band"))
                       & (F.col("a._bh") == F.col("b._bh")) & (F.col("a._id") < F.col("b._id")))
                .select("a._id", "b._id").distinct().count()
            )
            tracer.count("operators.dedup.candidate_pairs", candidates)
            tracer.count("operators.dedup.verified_ratio", df.count() / max(candidates, 1))
        return None

    def gate(self, spark, name, output):
        return compare(spark, self.registry[name], self.oracle[name], self.sf_dir)


class CountingCanonicalizer(HeaderCanonicalizer):
    """Times the batch standardizer and counts catalog hits and misses
    (a miss adds exactly one catalog entry)."""

    def __init__(self, tracer: Tracer, catalog_file: str):
        super().__init__(catalog_file)
        self.tracer = tracer

    def standardize_all(self, headers):
        before = len(self.catalog)
        with self.tracer.span("functions.headers"):
            out = super().standardize_all(headers)
        self.tracer.count("functions.headers.calls", len(headers))
        misses = len(self.catalog) - before
        self.tracer.count("functions.headers.hit_ratio", 1 - misses / max(len(headers), 1))
        return out


class VehicleEtl(Workload):
    """The paper's pipeline end to end: messy sheet -> ingest -> vehicle
    pipeline -> final projection -> parquet."""

    name = "vehicle_etl"
    op_names = ["etl_job"]
    passes_per_10s = 1  # one ~12 s job

    def prepare(self) -> dict:
        self.input = datagen.messy_vehicle_frame(self.scale.copies, self.seed)
        self.catalog_seed = os.path.join(self.work_dir, "header_catalog.json")
        datagen.write_catalog(self.input.catalog, self.catalog_seed)
        self.catalog_file = os.path.join(self.work_dir, "header_catalog_run.json")
        self.out_path = os.path.join(self.work_dir, "vehicles_clean")
        self.golden = datagen.golden_key_summary()
        return {
            "copies": self.input.copies,
            "body_rows": self.input.body_rows,
            "header_levels": self.input.header_levels,
            "novel_headers": self.input.novel_headers,
            "distinct_importers": self.input.distinct_importers,
        }

    def bind(self, spark):
        self.importers = spark.read.parquet(
            os.path.join(datagen.FIXTURES, "vehicle_importers.parquet")
        )

    def _canonicalizer(self, tracer):
        # every job starts from the same pre-seeded catalog file, so each
        # pass takes the miss path (and its catalog save) for novel headers
        shutil.copyfile(self.catalog_seed, self.catalog_file)
        if tracer is None:
            return HeaderCanonicalizer(self.catalog_file)
        return CountingCanonicalizer(tracer, self.catalog_file)

    def run_op(self, spark, name, tracer):
        canon = self._canonicalizer(tracer)
        if tracer is None:
            df = excel.ingest_messy_frame(spark, self.input.frame, canon)
            out = vp.final_projection(vp.vehicle_pipeline(df, self.importers))
            writers.write_parquet(out, self.out_path)
            return None

        with tracer.span("sources.excel.ingest"):
            df, rows = _persisted(excel.ingest_messy_frame(spark, self.input.frame, canon))
        tracer.count("sources.excel.ingest_rows", rows)
        with instrument(cleaning.ffill, self._traced_ffill(tracer)), instrument(
            vp.fuzzy_match_names, self._traced_fuzzy(tracer)
        ):
            with tracer.span("plans.vehicle_pipeline"):
                out, _ = _persisted(vp.final_projection(vp.vehicle_pipeline(df, self.importers)))
        with tracer.span("sources.writers.write"):
            writers.write_parquet(out, self.out_path)
        tracer.count("sources.writers.write_bytes", _dir_bytes(self.out_path))
        return None

    @staticmethod
    def _traced_ffill(tracer):
        real = cleaning.ffill

        def ffill(df, *args, **kwargs):
            df, _ = _persisted(df)
            with tracer.span("operators.cleaning.ffill"):
                out, rows = _persisted(real(df, *args, **kwargs))
            tracer.count("operators.cleaning.ffill_rows", rows)
            return out

        return ffill

    @staticmethod
    def _traced_fuzzy(tracer):
        real = vp.fuzzy_match_names

        def fuzzy_match_names(raw, raw_col, catalog, catalog_col, *args, **kwargs):
            raw, _ = _persisted(raw)
            with tracer.span("operators.fuzzy.match"):
                out, names = _persisted(real(raw, raw_col, catalog, catalog_col, *args, **kwargs))
            # the benchmark's own jobs, kept out of the enclosing span's self time
            with tracer.span("trace.counters"):
                matched = out.filter(F.col(f"matched_{catalog_col}").isNotNull()).count()
                candidates = catalog.count()
            tracer.count("operators.fuzzy.names_scored", names)
            tracer.count("operators.fuzzy.pairs_scored", names * candidates)
            tracer.count("operators.fuzzy.match_ratio", matched / max(names, 1))
            return out

        return fuzzy_match_names

    def gate(self, spark, name, output):
        out = spark.read.parquet(self.out_path)
        rows = out.count()
        if rows != self.input.body_rows:
            return False, f"output rows {rows} != input rows {self.input.body_rows}"
        got = {
            (str(r[0]) if r[0] is not None else "", r[1] or "", r[2] or ""): (r[3], r[4])
            for r in out.groupBy(*datagen.GOLDEN_KEYS)
            .agg(F.count(F.lit(1)), F.countDistinct("MARCA"))
            .collect()
        }
        want = {k: (n * self.input.copies, m) for k, (n, m) in self.golden.items()}
        if got != want:
            diff = sorted(set(got.items()) ^ set(want.items()))[:5]
            return False, f"(AÑO, CATEGORIA_PROPULSION, TIPO_LDV) rows/brands differ: {diff}"
        detail = f"rows {rows}; per-key rows = {self.input.copies} x golden, brands = golden"
        if not self.traced:
            return True, detail
        # the unperturbed fixture through the registry query vs its oracle
        # (re-runs the pipeline, so only traced runs pay for it)
        ok, summary = compare(
            spark,
            entry.queries()["vehicle_pipeline_summary"],
            entry.oracle_sql()["vehicle_pipeline_summary"],
            self.work_dir,
        )
        return ok, f"{detail}; fixture summary {summary}"

    def after_pass(self, spark):
        # ffill_global persists its range-partitioned input and never
        # releases it; drop it so every pass starts from the same state
        spark.catalog.clearCache()


WORKLOADS = {w.name: w for w in (VehicleEtl, DashboardMix, LlmCuration)}


def layer_metrics(tracer: Tracer, spark_passes: dict, session_s: float, cores: int,
                  pass_walls: dict[str, float], overhead_s: float, failed_ratio: float) -> dict:
    """Every per-layer metric by name; layers a workload does not reach read 0."""
    m = {"session.get_spark_s": session_s}
    loads = [len([s for s in tracer.spans if s.name == "session.load_table" and s.pass_id == p])
             for p in {s.pass_id for s in tracer.spans}]
    m["session.load_table_calls"] = _median(loads) if tracer.spans else 0.0
    m["session.load_table_s"] = tracer.median("session.load_table")
    m["sources.excel.ingest_s"] = tracer.median("sources.excel.ingest")
    m["sources.excel.ingest_self_s"] = tracer.median("sources.excel.ingest", self_only=True)
    m["sources.excel.ingest_rows"] = tracer.counter_median("sources.excel.ingest_rows")
    m["sources.writers.write_s"] = tracer.median("sources.writers.write")
    m["sources.writers.write_bytes"] = tracer.counter_median("sources.writers.write_bytes")
    m["functions.headers.calls"] = tracer.counter_median("functions.headers.calls")
    m["functions.headers.hit_ratio"] = tracer.counter_median("functions.headers.hit_ratio")
    m["functions.headers.s"] = tracer.median("functions.headers")
    m["operators.cleaning.ffill_s"] = tracer.median("operators.cleaning.ffill")
    m["operators.cleaning.ffill_rows"] = tracer.counter_median("operators.cleaning.ffill_rows")
    m["operators.fuzzy.match_s"] = tracer.median("operators.fuzzy.match")
    for c in ("names_scored", "pairs_scored", "match_ratio"):
        m[f"operators.fuzzy.{c}"] = tracer.counter_median(f"operators.fuzzy.{c}")
    m["plans.vehicle_pipeline.derive_s"] = tracer.median("plans.vehicle_pipeline", self_only=True)
    for q in DashboardMix.op_names:
        m[f"plans.{q}.s"] = tracer.median(f"plans.{q}")
    for span in LlmCuration.spans.values():
        m[f"{span}_s"] = tracer.median(span)
    m["operators.dedup.candidate_pairs"] = tracer.counter_median("operators.dedup.candidate_pairs")
    m["operators.dedup.verified_ratio"] = tracer.counter_median("operators.dedup.verified_ratio")
    warm = [(spark_passes.get(tag, {}), wall) for tag, wall in pass_walls.items()]
    for key in ("stages", "tasks", "executor_run_s", "executor_cpu_s",
                "shuffle_write_bytes", "spill_bytes", "gc_s"):
        m[f"spark.{key}"] = _median([p.get(key, 0.0) for p, _ in warm])
    m["spark.core_utilization"] = _median(
        [p.get("executor_run_s", 0.0) / (wall * cores) for p, wall in warm]
    )
    m["trace.overhead_s"] = overhead_s
    m["failed_ratio"] = failed_ratio
    return m


def _median(vals):
    return statistics.median(vals) if vals else 0.0
