"""The three workloads: ``ingest``, ``refresh`` and ``serve``.

Each drives the engine only through its public functions. A workload
generates its inputs (``generate``, repeated by the runner to time
set-up), finishes set-up (``prepare``), optionally warms up, then runs
closed-loop rounds until the deadline. Every round is either traced or
not; samples carry that flag so the runner can compute end-to-end
metrics from untraced rounds and the tracing overhead from the
difference. ``check`` verifies outputs against DuckDB or the registry
oracle and returns failure messages instead of raising.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import sys
import threading
import time
from dataclasses import dataclass

import duckdb

from pyspark.sql import functions as F

from perfbench import gen
from voter_file_etl_spark import registry
from voter_file_etl_spark.operators import etl
from voter_file_etl_spark.sources import manifest as mf

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tests"))
import oracle_harness  # noqa: E402


@dataclass
class Sample:
    latency: float  # seconds
    items: int  # rows published, or 1 per read / query
    traced: bool
    kind: str = ""  # refresh: "read" or "cycle"; serve: registry module


def median(xs: list[float]) -> float:
    xs = sorted(xs)
    n = len(xs)
    return (xs[(n - 1) // 2] + xs[n // 2]) / 2 if xs else 0.0


def percentile(xs: list[float], p: float) -> float | None:
    """The p-quantile, or None unless at least ten samples lie beyond it."""
    xs = sorted(xs)
    if len(xs) * (1 - p) < 10:
        return None
    return xs[min(len(xs) - 1, int(p * len(xs)))]


class Workload:
    name = ""
    client_threads = 1
    round_s = 1.0  # nominal seconds per round, for sizing the run

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.rng = random.Random(seed)
        self.samples: list[Sample] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.tracer = None  # set by the runner in a traced run
        self._traced = False
        self._count_lock = threading.Lock()  # refresh counts from two threads

    def _attempt(self, n: int = 1) -> None:
        with self._count_lock:
            self.attempted += n

    def _fail(self, msg: str) -> None:
        with self._count_lock:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(msg)

    def _op(self, name: str, writer: bool = False):
        """An operation span when tracing is on, else a no-op."""
        if self.tracer is None or not self._traced:
            return contextlib.nullcontext(None)
        return self.tracer.span(name, op=True, writer=writer)

    def prepare(self) -> None:
        """Set-up after input generation (timed into setup_s)."""

    def warm(self) -> None:
        """Untimed work before measuring."""

    def check(self) -> None:
        """Output checks after measuring (serve checks in ``warm``)."""

    def op_samples(self, traced: bool) -> list[Sample]:
        return [s for s in self.samples if s.traced == traced]

    def e2e(self, traced: bool = False) -> dict[str, float]:
        s = self.op_samples(traced)
        return {
            "latency_p50_ms": median([x.latency for x in s]) * 1000,
            "throughput_per_s": sum(x.items for x in s) / max(sum(x.latency for x in s), 1e-9),
        }


def _compare_published(wh: str, tsv_paths: list[str]) -> list[str]:
    """DuckDB check of a published warehouse against the TSVs a correct
    load would have published: rows per state = distinct PKs, and per PK
    the stripped city and the geohash."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute(f"CREATE TEMP TABLE exp AS {gen.expected_voters_sql(tsv_paths)}")
        con.execute(
            "CREATE TEMP TABLE pub AS SELECT LALVOTERID AS pk, state, "
            "Residence_Addresses_City AS city, Residence_Addresses_GeoHash AS geohash "
            f"FROM read_parquet('{wh}/state=*/*.parquet', hive_partitioning=true)"
        )
        errs = []
        per_state = con.execute(
            "SELECT coalesce(e.st, p.state), e.n, p.n FROM "
            "(SELECT substr(pk, 4, 2) AS st, count(*) AS n FROM exp GROUP BY 1) e "
            "FULL JOIN (SELECT state, count(*) AS n FROM pub GROUP BY 1) p "
            "ON e.st = p.state WHERE e.n IS DISTINCT FROM p.n"
        ).fetchall()
        errs += [f"state {st}: expected {a} rows, published {b}" for st, a, b in per_state]
        (bad,) = con.execute(
            "SELECT count(*) FROM exp FULL JOIN pub USING (pk) "
            "WHERE exp.city IS DISTINCT FROM pub.city "
            "OR exp.geohash IS DISTINCT FROM pub.geohash"
        ).fetchone()
        if bad:
            errs.append(f"{bad} PKs with a missing row or a wrong city/geohash")
        return errs
    finally:
        con.close()


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------
class Ingest(Workload):
    """Cold bulk loads of skewed full-width state files (one client)."""

    name = "ingest"
    round_s = 4.0
    STATES = [("CA", 10_000), ("TX", 2_000), ("NY", 2_000), ("FL", 1_500), ("OH", 1_500), ("PA", 1_000)]

    def generate(self, out_dir: str) -> None:
        self.files = os.path.join(out_dir, "files")
        os.makedirs(self.files)
        self.recorded = []
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            for i, (st, n) in enumerate(self.STATES):
                name = f"{i + 1:02d}--{st}--2024-01-01.tab"
                lines = gen.write_voter_tsv(con, os.path.join(self.files, name), self.seed, i, st, n)
                self.recorded.append((name, st, lines))
        finally:
            con.close()
        demo = "99--CA--2024-01-01--DEMOGRAPHIC.tab"
        lines = gen.write_demographic_tsv(os.path.join(self.files, demo), "CA")
        self.recorded.append((demo, "CA", lines))
        self.file_lines = {n: lines for n, _, lines in self.recorded}
        self.round_dir = None

    def round(self, traced: bool) -> None:
        self._traced = traced
        if self.round_dir:
            shutil.rmtree(self.round_dir)
        self.round_dir = os.path.join(self.work, f"ingest-round-{len(self.samples)}")
        wh = os.path.join(self.round_dir, "warehouse")
        mfp = os.path.join(self.round_dir, "manifest")
        voter_files = [n for n, _, _ in self.recorded if "DEMOGRAPHIC" not in n]
        self._attempt(len(voter_files))
        with self._op("ingest.load", writer=True):
            mf.record_files(self.spark, mfp, self.recorded)
            t0 = time.perf_counter()
            try:
                results = etl.run_load(self.spark, self.files, wh, mfp)
            except Exception as e:  # a load that raises fails its files
                for n in voter_files:
                    self._fail(f"{n}: {type(e).__name__}: {str(e)[:200]}")
                return
            dt = time.perf_counter() - t0
        done = {r.filename: r for r in results}
        for n in voter_files:
            if n not in done or not done[n].reconciled:
                self._fail(f"{n}: not published or not reconciled")
        if set(done) - set(voter_files):
            self._fail(f"unexpected files loaded: {sorted(set(done) - set(voter_files))}")
        self.samples.append(Sample(dt, sum(r.rows_published for r in results), traced))
        self.last = (wh, mfp)

    def warm(self) -> None:
        """One unmeasured round, so JVM class loading and the first code
        generation are not timed."""
        self.round(False)
        self.samples.clear()

    def check(self) -> None:
        wh, mfp = self.last
        voter = [os.path.join(self.files, n) for n, _, _ in self.recorded if "DEMOGRAPHIC" not in n]
        errs = _compare_published(wh, voter)
        con = duckdb.connect()
        try:
            loaded = dict(con.execute(
                f"SELECT Filename, Loaded FROM read_parquet('{mfp}/*.parquet')"
            ).fetchall())
        finally:
            con.close()
        for n, _, _ in self.recorded:
            if loaded.get(n) != ("DEMOGRAPHIC" not in n):
                errs.append(f"manifest Loaded={loaded.get(n)} for {n}")
        self._attempt()
        if errs:
            self._fail("ingest output: " + "; ".join(errs))

    def report(self) -> dict:
        s = self.op_samples(False)
        return {
            "ingest_rows_per_s": {"value": self.e2e()["throughput_per_s"], "unit": "rows/s", "samples": len(s)},
            "run_load_s_p50": {"value": median([x.latency for x in s]), "unit": "s", "samples": len(s)},
        }


# ---------------------------------------------------------------------------
# refresh
# ---------------------------------------------------------------------------
class Refresh(Workload):
    """One writer loading redeliveries while one reader queries."""

    name = "refresh"
    client_threads = 2
    round_s = 3.3
    BASE = [("CA", 3_000), ("TX", 800), ("NY", 2_000), ("FL", 800), ("OH", 1_500),
            ("PA", 1_500), ("IL", 800), ("GA", 1_500)]
    REFRESHED = ["TX", "FL", "IL"]
    FILES_PER_STATE = 2

    def generate(self, out_dir: str) -> None:
        self.files = os.path.join(out_dir, "files")
        self.templates = os.path.join(out_dir, "templates")
        os.makedirs(self.files)
        os.makedirs(self.templates)
        sizes = dict(self.BASE)
        self.base = []
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            for i, (st, n) in enumerate(self.BASE):
                name = f"{i + 1:04d}--{st}--2024-01-01.tab"
                lines = gen.write_voter_tsv(con, os.path.join(self.files, name), self.seed, i, st, n)
                self.base.append((name, st, lines))
            # The redelivered files: FILES_PER_STATE distinct snapshots per
            # refreshed state, copied in under new names every cycle.
            self.template_lines = {}
            for st in self.REFRESHED:
                for slot in range(self.FILES_PER_STATE):
                    name = f"{st}-{slot}.tab"
                    salt = 1000 + 10 * slot + self.REFRESHED.index(st)
                    self.template_lines[name] = gen.write_voter_tsv(
                        con, os.path.join(self.templates, name), self.seed, salt, st, sizes[st]
                    )
            # Reader questions about states the writer never rewrites, with
            # their answers, drawn from the base files.
            self.stable = [st for st, _ in self.BASE if st not in self.REFRESHED]
            exp = gen.expected_voters_sql(
                [os.path.join(self.files, n) for n, st, _ in self.base if st in self.stable]
            )
            self.counts = {
                (pk[3:5], party): n
                for pk, party, n in con.execute(
                    f"SELECT min(pk), party, count(*) FROM ({exp}) GROUP BY substr(pk, 4, 2), party"
                ).fetchall()
            }
            self.lookups = con.execute(
                f"SELECT pk, first_name FROM ({exp}) ORDER BY hash({self.seed}, pk) LIMIT 200"
            ).fetchall()
        finally:
            con.close()
        self.file_lines = {n: lines for n, _, lines in self.base}
        self.wh = os.path.join(out_dir, "warehouse")
        self.mfp = os.path.join(out_dir, "manifest")
        self.cycle = 0
        self.last_file: dict[str, str] = {}

    def prepare(self) -> None:
        mf.record_files(self.spark, self.mfp, self.base)
        res = etl.run_load(self.spark, self.files, self.wh, self.mfp)
        if len(res) != len(self.base) or not all(r.reconciled for r in res):
            raise RuntimeError("refresh set-up: base delivery did not publish")
        for n, st, _ in self.base:
            self.last_file[st] = os.path.join(self.files, n)

    def _deliver(self) -> list[tuple[str, str, int]]:
        """Move one redelivery into the inbox: newer-dated files for the
        refreshed states, next to every already-loaded file."""
        c = self.cycle
        self.cycle += 1
        out = []
        for slot in range(self.FILES_PER_STATE):
            for st in self.REFRESHED:
                seq = len(self.base) + 1 + c * 100 + slot * 10 + self.REFRESHED.index(st)
                day = 2 + c % 27
                name = f"{seq:04d}--{st}--2024-02-{day:02d}.tab"
                tpl = f"{st}-{slot}.tab"
                shutil.copyfile(os.path.join(self.templates, tpl), os.path.join(self.files, name))
                out.append((name, st, self.template_lines[tpl]))
                self.file_lines[name] = self.template_lines[tpl]
                self.last_file[st] = os.path.join(self.templates, tpl)
        return out

    def _read_once(self, i: int) -> None:
        traced = self._traced
        with self._op("refresh.read"):
            t0 = time.perf_counter()
            try:
                voters = etl.read_voters(self.spark, self.wh)
                with self._read_exec():
                    if i % 2 == 0:
                        st = self.stable[self.rng.randrange(len(self.stable))]
                        party = gen.PARTIES[self.rng.randrange(len(gen.PARTIES))]
                        got = voters.filter(
                            (F.col("state") == st) & (F.col("Parties_Description") == party)
                        ).count()
                        want = self.counts.get((st, party), 0)
                    else:
                        pk, want = self.lookups[self.rng.randrange(len(self.lookups))]
                        rows = voters.filter(
                            F.col("state").isin(self.stable) & (F.col(gen.PK) == pk)
                        ).select("Voters_FirstName").collect()
                        got = rows[0][0] if len(rows) == 1 else rows
            except Exception as e:  # a failed read is counted, not raised
                self._fail(f"read {i}: {type(e).__name__}: {str(e)[:200]}")
                return
            finally:
                self._attempt()
            dt = time.perf_counter() - t0
        if got != want:
            self._fail(f"read {i}: got {got!r}, expected {want!r}")
        self.samples.append(Sample(dt, 1, traced, "read"))

    def _read_exec(self):
        if self.tracer is None or not self._traced:
            return contextlib.nullcontext()
        return self.tracer.span("read.exec")

    def start_reader(self) -> None:
        self._stop = threading.Event()

        def loop():
            i = 0
            while not self._stop.is_set():
                self._read_once(i)
                i += 1

        self._reader = threading.Thread(target=loop, name="perfbench-reader")
        self._reader.start()

    def stop_reader(self) -> None:
        self._stop.set()
        self._reader.join()

    def round(self, traced: bool) -> None:
        self._traced = traced
        with self._op("refresh.cycle", writer=True):
            delivered = self._deliver()
            self._attempt(len(delivered))
            mf.record_files(self.spark, self.mfp, delivered)
            t0 = time.perf_counter()
            try:
                results = etl.run_load(self.spark, self.files, self.wh, self.mfp)
            except Exception as e:  # a load that raises fails its files
                for n, _, _ in delivered:
                    self._fail(f"{n}: {type(e).__name__}: {str(e)[:200]}")
                return
            dt = time.perf_counter() - t0
        names = [n for n, _, _ in delivered]
        got = [r.filename for r in results]
        if sorted(got) != sorted(names):
            self._fail(f"cycle {self.cycle}: published {got}, expected {names}")
        for r in results:
            if not r.reconciled:
                self._fail(f"{r.filename}: not reconciled")
        self.samples.append(Sample(dt, sum(r.rows_published for r in results), traced, "cycle"))

    def check(self) -> None:
        self._attempt()
        errs = _compare_published(self.wh, sorted(self.last_file.values()))
        if errs:
            self._fail("refresh output: " + "; ".join(errs))

    def e2e(self, traced: bool = False) -> dict[str, float]:
        s = self.op_samples(traced)
        reads = [x.latency for x in s if x.kind == "read"]
        cycles = [x for x in s if x.kind == "cycle"]
        return {
            "latency_p50_ms": median(reads) * 1000,
            "throughput_per_s": sum(x.items for x in cycles) / max(sum(x.latency for x in cycles), 1e-9),
        }

    def report(self) -> dict:
        s = self.op_samples(False)
        reads = [x.latency * 1000 for x in s if x.kind == "read"]
        cycles = [x.latency for x in s if x.kind == "cycle"]
        out = {
            "refresh_s": {"value": median(cycles), "unit": "s", "samples": len(cycles)},
            "read_p50_ms": {"value": median(reads), "unit": "ms", "samples": len(reads)},
        }
        p90 = percentile(reads, 0.9)
        if p90 is not None:
            out["read_p90_ms"] = {"value": p90, "unit": "ms", "samples": len(reads)}
        return out


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------
# At least one key per registry module, weighted toward the index-shaped
# relational surface (core, aggregates, joins, windows, sql_surface).
SERVE_KEYS = [
    "p5_filter_prefix", "p2_nullif", "p4_filter_contains",
    "a15_mode", "a19_bool_bit_agg", "a5_household_agg",
    "j3_semi_join", "j14_null_safe_join", "j12_full_outer_join",
    "w2_rank_dense_rank", "o4_top_k", "w9_nth_value",
    "sql22_lateral_column_alias", "sql9_grouping_id", "sql17_group_by_all",
    "a47_ratio_to_report",  # plans.analytics
    "l7_txn_log_merge",  # plans.lifecycle
    "p9_unpivot",  # plans.reshape
    "f2_str_replace",  # plans.scalars
    "u1_union",  # plans.setops
    "j6_asof_join",  # plans.temporal
    "x1_dedup_exact",  # operators.dedup
    "e3_observe_metrics",  # operators.etl
    "g1_pagerank",  # operators.graph (iterative)
    "m1_multimodal_meta",  # operators.multimodal
    "x13_hash_sample",  # operators.sampling
    "x47_embedding_quantize",  # operators.similarity
    "t5_tokenize_explode",  # operators.text
    "st6_interval_join",  # streaming.joins
    "st14_incremental_ingest",  # streaming.sinks
    "st8_stream_dedup_builtin",  # streaming.stateful
    "st1_tumbling_window",  # streaming.windows
]


def module_of(key: str) -> str:
    return registry.QUERIES[key].__module__.removeprefix("voter_file_etl_spark.")


def registry_modules() -> list[str]:
    registry.load_all()
    return sorted({module_of(k) for k in registry.QUERIES})


class Serve(Workload):
    """Registry keys in a seed-shuffled order, one client, noop sink."""

    name = "serve"
    round_s = 5.0

    def generate(self, out_dir: str) -> None:
        registry.load_all()
        self.sf = os.path.join(out_dir, "sf")
        gen.write_star_schema(self.sf, self.seed)
        self.file_lines = {}

    def warm(self) -> None:
        """Each key once against its DuckDB oracle (the output check),
        which also compiles every plan before timing starts."""
        self._attempt(len(SERVE_KEYS))
        for key in SERVE_KEYS:
            try:
                oracle_harness.compare(
                    key, self.spark, self.sf, registry.QUERIES[key], registry.ORACLE[key]
                )
            except Exception as e:  # a wrong answer is counted, not raised
                self._fail(f"{key}: {type(e).__name__}: {str(e)[:300]}")
            self.spark.catalog.clearCache()

    def round(self, traced: bool) -> None:
        """One pass over every key in a new seed-shuffled order."""
        self._traced = traced
        order = list(SERVE_KEYS)
        self.rng.shuffle(order)
        for key in order:
            self._run_key(key, traced)

    def _run_key(self, key: str, traced: bool) -> None:
        fn = registry.QUERIES[key]
        mod = module_of(key)
        self._attempt()
        with self._op("registry.key") as rec:
            group = self.tracer.job_group(rec) if rec is not None else contextlib.nullcontext()
            try:
                with group:
                    t0 = time.perf_counter()
                    df = fn(self.spark, self.sf)
                    t1 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
            except Exception as e:  # a failed query is counted, not raised
                self._fail(f"{key}: {type(e).__name__}: {str(e)[:300]}")
                if rec is not None:
                    rec.attrs.update(module=mod, key=key, failed=True)
                return
            finally:
                self.spark.catalog.clearCache()
            if rec is not None:
                rec.attrs.update(module=mod, key=key, plan_s=t1 - t0, exec_s=t2 - t1)
        self.samples.append(Sample(t2 - t0, 1, traced, mod))

    def report(self) -> dict:
        s = [x.latency for x in self.op_samples(False)]
        out = {
            "query_p50_s": {"value": median(s), "unit": "s", "samples": len(s)},
            "queries_per_s": {"value": self.e2e()["throughput_per_s"], "unit": "1/s", "samples": len(s)},
        }
        p90 = percentile(s, 0.9)
        if p90 is not None:
            out["query_p90_s"] = {"value": p90, "unit": "s", "samples": len(s)}
        return out


WORKLOADS = {w.name: w for w in (Ingest, Refresh, Serve)}
