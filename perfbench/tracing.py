"""Spans around the engine's public functions, recorded in memory.

A traced call is wrapped at the name its caller looks up (for example
``etl.read_tsv``, which ``load_voter_file`` resolves in the etl module,
or ``manifest.mark_loaded``, which etl reaches as ``mf.mark_loaded``),
so the engine runs unmodified. Lazy layers therefore report plan-build
time and actions report execution time. Times include waits inside the
call, such as on ``manifest._MF_LOCK``.

Each span records name, start, end, parent span and operation id; the
spans of one benchmark operation (a bulk load, a refresh cycle, a read,
a registry key) share the operation id. ``run_load``'s lane threads
start without a parent, so their spans fall back to the operation that
is current on the writer side.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field

from voter_file_etl_spark.operators import etl
from voter_file_etl_spark.sources import manifest as mf


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


# (module, attribute, span name) of every wrapped public function.
WRAPPED = (
    (etl, "run_load", "etl.run_load"),
    (etl, "load_voter_file", "etl.load_voter_file"),
    (etl, "read_tsv", "tsv.read_tsv"),
    (etl, "enrich", "etl.enrich"),
    (etl, "dedup_pk", "etl.dedup_pk"),
    (etl, "read_voters", "etl.read_voters"),
    (mf, "read_manifest", "manifest.read_manifest"),
    (mf, "recorded_lines", "manifest.recorded_lines"),
    (mf, "mark_loaded", "manifest.mark_loaded"),
    (mf, "record_files", "manifest.record_files"),
    (mf, "pending_files", "manifest.pending_files"),
)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


class Tracer:
    """Collects spans while installed; ``installed()`` patches the
    wrapped functions for the duration of a traced round."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.rounds = 0
        # filename -> manifest Lines, filled in by the workload, for rows_in.
        self.file_lines: dict[str, int] = {}
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._writer_op: tuple[int, int] | None = None  # (op_id, span_id)

    # -- span bookkeeping -------------------------------------------------
    def _stack(self) -> list[tuple[int, int | None]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, op: bool = False, writer: bool = False):
        """Record one span. ``op=True`` opens a new operation id;
        ``writer=True`` makes it the parent of spans from threads that
        have no span of their own (run_load's lanes)."""
        stack = self._stack()
        sid = next(self._ids)
        if stack:
            parent, op_id = stack[-1]
        elif self._writer_op is not None and not op:
            op_id, parent = self._writer_op
        else:
            parent, op_id = None, None
        if op:
            op_id = sid
        rec = Span(sid, name, time.perf_counter(), 0.0, parent, op_id)
        stack.append((sid, op_id))
        if writer:
            self._writer_op = (op_id, sid)
        try:
            yield rec
        finally:
            stack.pop()
            if writer:
                self._writer_op = None
            # A wrapper that gathers attributes after the call closes
            # the span itself, so that bookkeeping is not timed.
            rec.end = rec.end or time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    # -- wrappers ---------------------------------------------------------
    def _wrap(self, fn, name: str):
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                if name == "etl.load_voter_file":
                    return tracer._load_voter_file(fn, rec, *args, **kwargs)
                out = fn(*args, **kwargs)
                rec.end = time.perf_counter()
                if name == "etl.run_load":
                    rec.attrs["files_listed"] = sum(
                        1
                        for n in os.listdir(args[1])
                        if n.endswith(".tab") and "DEMOGRAPHIC" not in n
                    )
                    rec.attrs["files_done"] = len(out)
                    rec.attrs["files_loaded"] = sum(r.reconciled for r in out)
                return out

        return wrapper

    def _load_voter_file(self, fn, rec: Span, spark, file_path, *args, **kwargs):
        sc = spark.sparkContext
        group = f"perfbench-file-{rec.span_id}"
        sc.setJobGroup(group, "perfbench load_voter_file")
        try:
            res = fn(spark, file_path, *args, **kwargs)
            rec.end = time.perf_counter()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        rec.attrs.update(
            jobs=len(sc.statusTracker().getJobIdsForGroup(group)),
            file=file_path,
            bytes_in=os.path.getsize(file_path),
            bytes_out=_dir_bytes(res.published_path),
            rows_published=res.rows_published,
            reconciled=res.reconciled,
        )
        return res

    @contextlib.contextmanager
    def installed(self):
        """Patch every wrapped function for one traced round."""
        saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in WRAPPED]
        for mod, attr, name in WRAPPED:
            setattr(mod, attr, self._wrap(getattr(mod, attr), name))
        self.rounds += 1
        try:
            yield
        finally:
            for mod, attr, orig in saved:
                setattr(mod, attr, orig)

    @contextlib.contextmanager
    def job_group(self, rec: Span):
        """Tag the jobs a benchmark call runs in this thread; stores the
        job count on ``rec``."""
        sc = self.spark.sparkContext
        group = f"perfbench-op-{rec.span_id}"
        sc.setJobGroup(group, "perfbench")
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            rec.attrs["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


MANIFEST_FNS = ("read_manifest", "recorded_lines", "mark_loaded", "record_files", "pending_files")


def layer_metrics(tracer: Tracer, registry_modules: list[str]) -> dict[str, float]:
    """Per-layer metrics from the traced rounds' spans.

    Times are means per call (seconds), so they do not depend on how
    many rounds fit in the run; ``_calls`` are per traced round; file
    and row counts are per ``run_load`` call. A layer that did no work
    on the workload reads 0.
    """
    by: dict[str, list[Span]] = {}
    for s in tracer.spans:
        by.setdefault(s.name, []).append(s)

    def durs(name: str) -> list[float]:
        return [s.dur for s in by.get(name, [])]

    # Calls that raised carry no attributes; their failure is counted by
    # the workload, so only completed calls enter the counts.
    loads = [s for s in by.get("etl.load_voter_file", []) if s.attrs]
    runs = [s for s in by.get("etl.run_load", []) if s.attrs]
    n_runs = len(runs)
    lvf = sorted(durs("etl.load_voter_file"))
    rows_in = sum(tracer.file_lines.get(os.path.basename(s.attrs["file"]), 1) - 1 for s in loads)
    rows_pub = sum(s.attrs["rows_published"] for s in loads)
    listed = sum(s.attrs["files_listed"] for s in runs)
    done = sum(s.attrs["files_done"] for s in runs)
    loaded = sum(s.attrs["files_loaded"] for s in runs)
    out = {
        "operators.etl.run_load_s": _mean(durs("etl.run_load")),
        "operators.etl.load_voter_file_s": _mean(lvf),
        "operators.etl.load_voter_file_p50_s": lvf[len(lvf) // 2] if lvf else 0.0,
        "operators.etl.load_voter_file_max_s": lvf[-1] if lvf else 0.0,
        "operators.etl.enrich_s": _mean(durs("etl.enrich")),
        "operators.etl.dedup_pk_s": _mean(durs("etl.dedup_pk")),
        "operators.etl.read_voters_s": _mean(durs("etl.read_voters")),
        "operators.etl.read_exec_s": _mean(durs("read.exec")),
        "operators.etl.lane_overlap": _ratio(sum(lvf), sum(durs("etl.run_load"))),
        "operators.etl.jobs_per_file": _mean(s.attrs["jobs"] for s in loads),
        "operators.etl.rows_in": _ratio(rows_in, n_runs),
        "operators.etl.rows_published": _ratio(rows_pub, n_runs),
        "operators.etl.dup_rows_dropped": _ratio(rows_in - rows_pub, n_runs),
        "operators.etl.files_listed": _ratio(listed, n_runs),
        "operators.etl.files_loaded": _ratio(loaded, n_runs),
        "operators.etl.files_skipped": _ratio(listed - done, n_runs),
        "operators.etl.files_unreconciled": _ratio(done - loaded, n_runs),
        "operators.etl.useful_file_ratio": _ratio(loaded, listed),
        "operators.etl.bytes_written_per_input_byte": _ratio(
            sum(s.attrs["bytes_out"] for s in loads), sum(s.attrs["bytes_in"] for s in loads)
        ),
        "sources.tsv.read_tsv_s": _mean(durs("tsv.read_tsv")),
        "sources.tsv.read_tsv_calls": _ratio(len(durs("tsv.read_tsv")), tracer.rounds),
    }
    for fn in MANIFEST_FNS:
        out[f"sources.manifest.{fn}_s"] = _mean(durs(f"manifest.{fn}"))
        out[f"sources.manifest.{fn}_calls"] = _ratio(len(durs(f"manifest.{fn}")), tracer.rounds)
    keys = by.get("registry.key", [])
    for mod in registry_modules:
        mine = [s for s in keys if s.attrs["module"] == mod]
        out[f"{mod}.plan_s"] = _mean(s.attrs["plan_s"] for s in mine if "plan_s" in s.attrs)
        out[f"{mod}.exec_s"] = _mean(s.attrs["exec_s"] for s in mine if "exec_s" in s.attrs)
        out[f"{mod}.failed"] = float(sum(1 for s in mine if s.attrs.get("failed")))
    out["registry.jobs_per_query"] = _mean(s.attrs.get("jobs", 0) for s in keys)
    return out
