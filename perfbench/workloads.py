"""The benchmark's workloads.

Each drives the package only through its public functions, as a user
would, and checks its own outputs. A workload has:

  ``generate(dir, seed)`` -> manifest     seeded inputs (``gen.py``)
  ``prepare(spark, manifest, dir)``       bind to a (new) Spark session
  ``warm()`` -> (seconds, attempted, failed)
                                          the checked warm pass that ends
                                          set-up; seconds spent in Spark
  ``op(tracer)`` -> list[Sample]          one unit of user work, timed
  ``traced_extras(tracer)`` -> metrics    per-layer figures only a traced
                                          run gathers

A ``Sample`` is one timed operation (an ETL job, a query) with its input
record count and whether its checks held. Checks run outside the timed
region. ``extra_attempted``/``extra_failed`` count the checked work a
traced run does besides its operations.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
import random
import re
import shutil
import statistics
import time
from dataclasses import dataclass

import duckdb

import gen
from spans import OFF

STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events")
# query families of the oracle-bearing bench set, most specific tag first
FAMILIES = ("cdc", "reshape", "join", "window", "agg")
MARTS = ("bronze", "silver", "monthly", "yearly", "normals", "ml_features")
MART_SPANS = ("bronze", "silver", "gold_monthly", "gold_yearly", "gold_normals",
              "gold_ml_features")
CORPUS_STAGES = ("profile_filter", "exact_dedup", "lsh_pairs", "components", "chunking")


@dataclass
class Sample:
    seconds: float
    records: int
    ok: bool


def _rm(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def _tree_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, Spark's marker files excluded."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


def _sql(query: str):
    con = duckdb.connect()
    try:
        return con.execute(query).fetchall()
    finally:
        con.close()


def _count(path_glob: str) -> int:
    return _sql(f"SELECT count(*) FROM read_parquet('{path_glob}', hive_partitioning=true)")[0][0]


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 6))
    return str(v)


def value_hash(pdf) -> str:
    """Order-insensitive result hash, floats rounded to 6 places."""
    cols = [list(map(_norm, pdf[c].tolist())) for c in sorted(pdf.columns)]
    rows = sorted(zip(*cols))
    return hashlib.sha256("".join("\x1f".join(r) + "\x1e" for r in rows).encode()).hexdigest()


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class Workload:
    name = ""
    min_ops = 1  # operations a run measures at least, whatever its seconds

    def __init__(self, seed: int):
        self.seed = seed
        self.spark = None
        self.manifest: dict = {}
        self.dir = ""
        self.ops = 0
        self.extra_attempted = 0
        self.extra_failed = 0
        self.run_ids: list[str] = []  # streaming jobs carry these as job group
        self.batches = 0

    def prepare(self, spark, manifest: dict, work_dir: str) -> None:
        self.spark, self.manifest, self.dir = spark, manifest, work_dir

    def warm(self) -> tuple[float, int, int]:
        samples = self.op(OFF)
        return (sum(s.seconds for s in samples), len(samples),
                sum(not s.ok for s in samples))

    def traced_extras(self, tracer) -> dict[str, float]:
        return {}


# ------------------------------------------------------------ ghcn_etl


class GhcnEtl(Workload):
    """run_pipeline over the .dly corpus, every layer written with
    write_partitioned, silver and monthly validated with run_expectations.

    The warm pass runs the same job on a small corpus of the same
    generator: it compiles the job's code paths (a cold job at full size
    takes twice as long as a warm one) without paying a full-size job."""

    name = "ghcn_etl"

    def __init__(self, seed: int):
        super().__init__(seed)
        self.written_files = self.written_bytes = 0

    def generate(self, out_dir: str, seed: int) -> dict:
        m = gen.ghcn_corpus(os.path.join(out_dir, "corpus"), seed)
        m["warm"] = gen.ghcn_corpus(os.path.join(out_dir, "warm"), seed + 1,
                                    n_stations=4, years=(2022,))
        return m

    def warm(self) -> tuple[float, int, int]:
        full = self.manifest
        self.manifest = full["warm"]
        try:
            return super().warm()
        finally:
            self.manifest = full

    @staticmethod
    def _suites(stations):
        from ghcn_d_etl_project_spark.operators.expectations import Expectation as E

        silver = [E.not_null("ID"), E.not_null("DATE"), E.in_range("TMAX", -50.0, 50.0),
                  E.in_range("TMIN", -50.0, 50.0), E.in_range("PRCP", 0.0, 200.0),
                  E.in_range("data_quality_score", 0.0, 1.0)]
        monthly = [E.not_null("ID"), E.in_range("record_count", 1, 31),
                   E.foreign_key("ID", stations, "ID")]
        return silver, monthly

    def op(self, tracer) -> list[Sample]:
        from ghcn_d_etl_project_spark.operators.expectations import run_expectations
        from ghcn_d_etl_project_spark.pipelines.ghcn import read_stations, run_pipeline
        from ghcn_d_etl_project_spark.sources.writers import (
            pick_partition_columns,
            write_partitioned,
        )

        m, spark = self.manifest, self.spark
        out = os.path.join(self.dir, f"out{self.ops}")
        self.ops += 1
        t0 = time.perf_counter()
        with tracer.span("ghcn.run_pipeline"):
            p = run_pipeline(spark, m["dly_dir"], m["stations"])
        for mart, span in zip(MARTS, MART_SPANS):
            df = p[mart]
            with tracer.span(f"ghcn.{span}"):
                with tracer.span("writers.write_partitioned"):
                    write_partitioned(df, os.path.join(out, mart),
                                      partition_by=pick_partition_columns(df.columns))
        with tracer.span("validate.run_expectations"):
            silver_suite, monthly_suite = self._suites(read_stations(spark, m["stations"]))
            report = run_expectations(
                spark.read.parquet(os.path.join(out, "silver")), silver_suite
            ).unionByName(run_expectations(
                spark.read.parquet(os.path.join(out, "monthly")), monthly_suite
            )).collect()
        elapsed = time.perf_counter() - t0
        p["silver"].unpersist()
        ok = self._check(out, report)
        self.written_files, self.written_bytes = _tree_bytes(out)
        _rm(out)
        return [Sample(elapsed, m["input_records"], ok)]

    def _check(self, out: str, report) -> bool:
        """Row counts from the generator; monthly aggregates recomputed
        in DuckDB over the written silver; the expectation report (only
        the planted metadata-less station may break the foreign key)."""
        m = self.manifest
        want = {"bronze": m["bronze_rows"], "silver": m["silver_rows"],
                "monthly": m["monthly_rows"], "yearly": m["yearly_rows"],
                "normals": m["normals_rows"], "ml_features": m["silver_rows"]}
        if any(_count(f"{out}/{mart}/**/*.parquet") != n for mart, n in want.items()):
            return False
        bad = _sql(f"""
            WITH s AS (SELECT * FROM read_parquet('{out}/silver/**/*.parquet',
                                                  hive_partitioning=true)),
            r AS (SELECT ID, year, month, count(*) AS n, sum(PRCP) AS p,
                         avg(TMAX) AS tx, min(TMIN) AS tn, max(SNWD) AS sd
                  FROM s GROUP BY ALL),
            g AS (SELECT * FROM read_parquet('{out}/monthly/**/*.parquet',
                                             hive_partitioning=true))
            SELECT count(*) FROM r FULL JOIN g USING (ID, year, month)
            WHERE g.record_count IS DISTINCT FROM r.n
               OR round(g.total_precip, 6) IS DISTINCT FROM round(r.p, 6)
               OR round(g.avg_tmax, 6) IS DISTINCT FROM round(r.tx, 6)
               OR g.min_temp IS DISTINCT FROM r.tn
               OR g.max_snow_depth IS DISTINCT FROM r.sd""")[0][0]
        if bad:
            return False
        for row in report:
            if row.check_id == "foreign_key:ID":
                if row.n_violations != m["orphan_monthly_rows"]:
                    return False
            elif not row.passed:
                return False
        return True

    def traced_extras(self, tracer) -> dict[str, float]:
        return {"writers.files_written": self.written_files,
                "writers.bytes_written": self.written_bytes,
                "writers.write_amp": self.written_bytes / self.manifest["input_bytes"]}


# -------------------------------------------------------- olap_queries


def _family(tags) -> str:
    for fam in FAMILIES:
        if fam in tags:
            return fam
    return "agg"


class OlapQueries(Workload):
    """A seeded, shuffled stream of the oracle-bearing bench queries of
    the agg/join/window/reshape/cdc families; each is one request,
    materialized with count(). One op is one full round of the set.

    The warm pass is one such round: a query's first run at a scale
    compiles code the next run reuses (a first round takes a third longer
    than the next), and a plan's shape depends on the scale. Each result's
    row count is checked against the DuckDB oracle's over the same
    tables. Set-up then collects every query on a small star schema of
    the same generator and hashes each result against its oracle there;
    a hashed pass at full scale would convert ten times the rows.

    Its traced run also runs the corpus-curation ladder stage by stage
    and the streaming ingest gate over micro-batches, so ``corpus.*`` and
    ``stream.*`` are measured without a workload of their own."""

    name = "olap_queries"
    # one round (10-20 s) is a short window on a host whose speed moves
    # within a minute, and its median is that of 19 different queries;
    # over ten seeds, two rounds cut the spread (IQR/median) of op_p50_s
    # from 0.32 to 0.24 and of ops_per_s from 0.27 to 0.19
    min_ops = 2

    def __init__(self, seed: int):
        super().__init__(seed)
        from ghcn_d_etl_project_spark.plans.registry import all_queries

        self.queries = {
            n: q for n, q in all_queries().items()
            if q.bench and q.oracle and set(q.tags) & set(FAMILIES)
        }
        self.rng = random.Random(seed)
        self.rows: dict[str, int] = {}  # query -> result rows (oracle)
        self.plan: dict[str, dict] = {}

    def generate(self, out_dir: str, seed: int) -> dict:
        m = gen.star_schema(os.path.join(out_dir, "star"), seed)
        m["check"] = gen.star_schema(os.path.join(out_dir, "check"), seed + 1, scale=0.01)
        # input records of a query: rows of the tables its oracle reads
        m["scan_rows"] = {
            name: sum(n for t, n in m["rows"].items() if re.search(rf"\b{t}\b", q.oracle))
            for name, q in self.queries.items()
        }
        return m

    def _oracle(self, d: str):
        con = duckdb.connect()
        for t in STAR_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
        return con

    def warm(self) -> tuple[float, int, int]:
        """The oracle's row count of every query; one checked round; then
        every query collected on the check tables and hashed against its
        oracle. Seconds spent in Spark in the last two are the warm pass."""
        con = self._oracle(self.manifest["dir"])
        try:
            for name, q in self.queries.items():
                self.rows[name] = con.execute(f"SELECT count(*) FROM ({q.oracle})").fetchone()[0]
        finally:
            con.close()
        samples = self.op(OFF)
        spark_s = sum(s.seconds for s in samples)
        failed = sum(not s.ok for s in samples)
        d = self.manifest["check"]["dir"]
        con = self._oracle(d)
        try:
            for q in self.queries.values():
                t0 = time.perf_counter()
                spdf = q.fn(self.spark, d).toPandas()
                spark_s += time.perf_counter() - t0
                opdf = con.execute(q.oracle).df()
                failed += (len(spdf), sorted(spdf.columns), value_hash(spdf)) != (
                    len(opdf), sorted(opdf.columns), value_hash(opdf))
        finally:
            con.close()
        return spark_s, len(samples) + len(self.queries), failed

    def op(self, tracer) -> list[Sample]:
        d = self.manifest["dir"]
        names = sorted(self.queries)
        self.rng.shuffle(names)
        out = []
        for name in names:
            q = self.queries[name]
            fam = _family(q.tags)
            with tracer.span(f"plans.{fam}.{name}"):
                t0 = time.perf_counter()
                with tracer.span(f"plans.{fam}.build"):
                    df = q.fn(self.spark, d)
                with tracer.span(f"plans.{fam}.exec"):
                    n = df.count()
                elapsed = time.perf_counter() - t0
            if tracer.enabled and name not in self.plan:
                from ghcn_d_etl_project_spark.utils.plancheck import plan_report

                r = plan_report(df)
                self.plan[name] = {"shuffles": r.shuffles,
                                   "broadcast_joins": r.broadcast_joins,
                                   "cold_scans": r.cold_scans}
            out.append(Sample(elapsed, self.manifest["scan_rows"][name], n == self.rows[name]))
        return out

    def traced_extras(self, tracer) -> dict[str, float]:
        out: dict[str, float] = {}
        for fam in FAMILIES:
            names = [n for n, q in self.queries.items() if _family(q.tags) == fam]
            for part in ("build", "exec"):
                out[f"plans.{fam}.{part}_s"] = _median(tracer.durations(f"plans.{fam}.{part}"))
            for key in ("shuffles", "broadcast_joins", "cold_scans"):
                out[f"plans.{fam}.{key}"] = sum(self.plan.get(n, {}).get(key, 0) for n in names)
        for part in ("build", "exec"):
            out[f"plans.{part}_s"] = _median(
                d for fam in FAMILIES for d in tracer.durations(f"plans.{fam}.{part}"))
        docs = gen.documents(os.path.join(self.dir, "documents"), self.seed)
        out.update(self._corpus_ladder(tracer, docs["corpus"]))
        out.update(self._ingest_gate(tracer, docs["ingest"]))
        return out

    def _corpus_ladder(self, tracer, c: dict) -> dict[str, float]:
        """The curation ladder once, each stage function of
        ``pipelines.corpus`` called and materialized in its own span (the
        composition ``corpus_prep`` makes); survivors checked against the
        generator's count."""
        from ghcn_d_etl_project_spark.pipelines import corpus as cp
        from ghcn_d_etl_project_spark.sources.readers import load_table

        cfg = cp.CorpusPrepConfig()
        docs = load_table(self.spark, c["path"], "documents")
        held: list = []
        with tracer.span("corpus.profile_filter"):
            base, handle = cp.profiled_persisted(docs, cfg)
            base.count()
        with tracer.span("corpus.exact_dedup"):
            exact = cp.exact_dedup_keep_min(base).persist()
            exact.count()
        with tracer.span("corpus.lsh_pairs"):
            pairs = cp.neardup_pairs(exact, cfg, release_into=held).persist()
            pairs.count()
        with tracer.span("corpus.components"):
            survivors, _ = cp.neardup_survivors(exact, pairs)
            survivors = survivors.persist()
            n_survivors = survivors.count()
        with tracer.span("corpus.chunking"):
            n_chunks = cp.chunk_documents(survivors, cfg, carry=("pred_lang",)).count()
        for df in (handle, exact, pairs, survivors, *held):
            df.unpersist()
        self.extra_attempted += 1
        self.extra_failed += (n_survivors, n_chunks) != (c["survivors"], c["chunks"])
        out = {f"corpus.{s}_s": tracer.durations(f"corpus.{s}")[-1] for s in CORPUS_STAGES}
        out["corpus.survivor_ratio"] = n_survivors / c["input_records"]
        return out

    def _ingest_gate(self, tracer, ing: dict) -> dict[str, float]:
        """The ingest half: all micro-batch files land, then one
        ingest_gate_stream query indexes the reference half once and
        judges one file per trigger. Verdict counts are checked against
        the generator's."""
        from ghcn_d_etl_project_spark.sources.readers import load_table
        from ghcn_d_etl_project_spark.streaming.quality import ingest_gate_stream

        run = os.path.join(self.dir, "stream")
        src = os.path.join(run, "landing")
        os.makedirs(src)
        for p in ing["batches"]:
            shutil.copy(p, src)
        ref = load_table(self.spark, ing["ref"], "documents")
        sdf = (self.spark.readStream.schema(ref.schema)
               .option("maxFilesPerTrigger", 1).parquet(src))
        t0 = time.time()
        with tracer.span("stream.ingest_gate_stream"):
            q = ingest_gate_stream(sdf, ref, "doc_id", "text",
                                   os.path.join(run, "verdicts"),
                                   os.path.join(run, "checkpoint"))
        self.run_ids.append(str(q.runId))
        progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        self.batches = len(progress)
        got = dict(_sql(f"SELECT verdict, count(*) FROM "
                        f"read_parquet('{run}/verdicts/*.parquet') GROUP BY verdict"))
        _rm(run)
        self.extra_attempted += len(ing["batches"])
        self.extra_failed += (got != ing["verdicts"]) * len(ing["batches"])
        return {
            "stream.index_build_s":
                _iso_epoch(progress[0]["timestamp"]) - t0 if progress else 0.0,
            "stream.trigger_s":
                _median(p["durationMs"]["triggerExecution"] / 1000.0 for p in progress),
        }


def _iso_epoch(ts: str) -> float:
    """Streaming progress timestamp (``2024-01-01T00:00:00.000Z``) -> epoch s."""
    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc).timestamp()


WORKLOADS = {w.name: w for w in (GhcnEtl, OlapQueries)}
