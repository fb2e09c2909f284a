"""KG-build benchmark: the user entry point ``plans.checkpoint.run_resumable``
turning landed pages into committed triples, from one process on
``local[min(4, cores)]``.

    python3 perfbench/run.py --workload kg_closed_vocab --seed 1 --seconds 15 --trace 0

Run from the repository root. Workloads:

* ``kg_closed_vocab``: a fresh sf0.1-distributed documents batch goes
  into a fresh sink on every call, with the ``kg_triples`` headline
  configuration; one committed batch is hash-compared against the
  DuckDB oracle of ``kg_triples``.
* ``kg_increments``: one sink pre-loaded in set-up; before each round a
  Spark job appends a fresh increment to the cumulative landed table,
  and the round commits it; every committed increment is compared with
  the same oracle. ``--land external`` moves the increment file in
  outside Spark instead (see ``Increments``).
* ``kg_open_vocab``: pages drawn Zipf-like from a 50 000-surface
  dictionary, so the co-mention graph exceeds the driver threshold of
  connected components and takes the distributed path.

Every round is one committing call followed by a no-op rerun of the
same input (nothing pending). Rounds repeat until ``--seconds`` have
passed and at least ``MIN_ROUNDS`` ran. Inputs are seeded by ``--seed`` and written to parquet during
set-up; all state lives under ``.perfbench_work/`` in the current
directory.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` traces every
round instead: it wraps each layer's public functions from outside the
engine (see ``spans.py``) and prints the per-layer metrics, the
``docs_per_s`` seen under tracing (compare with the untraced run's) and
the tracer's own time as a share of the rounds' wall time.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEM = "3g"
# a fixed heap and young generation: G1 otherwise sizes both from GC
# pause timings, which makes the peak memory of the tree bimodal
JVM_OPTS = f"-Xms{DRIVER_MEM} -Xmn1g -XX:-UsePerfData"

# -- sizes (docs) ------------------------------------------------------------
CLOSED_BATCH, CLOSED_WARM = 1000, 200
OPEN_BATCH, OPEN_WARM = 4800, 300
INC_BASE, INC_SIZE = 1000, 500
BASE_FILES = 4
WARMUP_ROUNDS = 1  # fresh-sink workloads; kg_increments warms on its pre-load
MIN_ROUNDS = 3  # so each run's medians reject one outlier round
MAX_ROUNDS = 6  # staged input pool; the window ends early if it runs out


@dataclass
class Call:
    kind: str  # "commit" | "noop"
    sink: str
    docs_in: int
    wall_s: float = 0.0
    result: dict | None = None
    error: str | None = None
    problems: list[str] = field(default_factory=list)
    increment: str | None = None  # kg_increments: the documents file committed

    @property
    def failed(self) -> bool:
        return self.error is not None or bool(self.problems)


@dataclass
class Round:
    calls: list[Call]
    traced: bool
    t0: float
    t1: float
    cpu_s: float

    @property
    def docs(self) -> int:
        return sum(c.result["n_pending"] for c in self.calls
                   if c.kind == "commit" and c.result)

    def wall(self, kind: str) -> float:
        return sum(c.wall_s for c in self.calls if c.kind == kind)


# -- statistics --------------------------------------------------------------

def summary(values: list[float]) -> dict:
    """median, quartiles, count and (only where >= 10 samples lie beyond
    it) the highest tail percentile."""
    vals = sorted(values)
    if not vals:
        return {"n": 0}
    med = statistics.median(vals)
    q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
    out = {"median": med, "q1": q1, "q3": q3, "n": len(vals)}
    for p in (99, 90):
        if len(vals) * (100 - p) / 100 >= 10:
            out[f"p{p}"] = statistics.quantiles(vals, n=100)[p - 1]
            break
    return out


# -- the benchmark -----------------------------------------------------------

class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.calls: list[Call] = []
        self.rounds: list[Round] = []
        self.sinks: dict[str, set[str]] = {}  # sink -> urls of its input
        self.commits: dict[str, dict[str, int]] = {}  # sink -> run_id -> n_new
        self.checks: list[str] = []
        self.session_start_s = 0.0
        self.setup_s = 0.0
        self.tracer = None

    # -- session ---------------------------------------------------------
    def start_session(self):
        from qizner_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", master=f"local[{CORES}]",
            extra_conf={
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(WORK, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} {JVM_OPTS}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t0

    def stop_session(self) -> None:
        from pyspark import SparkContext

        from procstat import is_running, tree_pids

        kids = [p for p in tree_pids() if p != os.getpid()]
        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        # the JVM's children (Python workers) are reaped by init once the
        # JVM has gone; wait until none of them is still running
        deadline = time.time() + 30
        while time.time() < deadline and any(is_running(p) for p in kids):
            time.sleep(0.1)

    # -- calls -----------------------------------------------------------
    def call(self, kind: str, pages, sink: str, docs_in: int, timed: bool = True) -> Call:
        from qizner_spark.plans import checkpoint

        c = Call(kind, sink, docs_in)
        t0 = time.perf_counter()
        try:
            c.result = checkpoint.run_resumable(self.spark, pages, sink, **self.kg_kwargs)
        except Exception as e:  # a failed call is counted, the run goes on
            c.error = f"{type(e).__name__}: {e}"
        c.wall_s = time.perf_counter() - t0
        if not timed:
            log(f"set-up {kind} {c.wall_s:.2f} s")
        if c.result is not None:
            if kind == "noop" and (c.result["n_pending"] or c.result["n_new_triples"]):
                c.problems.append(f"no-op call committed {c.result['n_new_triples']} triples")
            if kind == "commit" and c.result.get("run_id"):
                self.commits.setdefault(sink, {})[c.result["run_id"]] = c.result["n_new_triples"]
        if timed:
            self.calls.append(c)
        return c

    def round(self, r: int) -> Round:
        from procstat import tree_cpu_s

        traced = self.trace
        self.prepare_round(r)
        if traced:
            self.tracer.install()
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            calls = self.run_round(r)
        finally:
            if traced:
                self.tracer.uninstall()
        rd = Round(calls, traced, t0, time.perf_counter(), tree_cpu_s() - cpu0)
        self.rounds.append(rd)
        log(f"round {r}{' traced' if traced else ''}: "
            + ", ".join(f"{c.kind} {c.wall_s:.2f} s" for c in calls))
        return rd

    # -- workload hooks --------------------------------------------------
    def setup(self) -> None:
        raise NotImplementedError

    def prepare_round(self, r: int) -> None:
        """Untimed work before round ``r`` (landing its input)."""

    def run_round(self, r: int) -> list[Call]:
        raise NotImplementedError

    def extra_checks(self) -> None:
        """Workload-specific output checks; append problems to calls."""

    # -- driver ----------------------------------------------------------
    def run(self) -> dict:
        from procstat import RssSampler
        from spans import LayerTracer

        t0 = time.perf_counter()
        self.start_session()
        self.setup()
        self.setup_s = time.perf_counter() - t0
        log(f"set-up {self.setup_s:.1f} s (session {self.session_start_s:.1f} s)")
        if self.trace:
            self.tracer = LayerTracer(self.spark)
        sc = self.spark.sparkContext
        rdds0, mb0 = sc._jsc.getPersistentRDDs().size(), self.cached_mb()
        rss = RssSampler().start()
        w0 = time.perf_counter()
        try:
            r = 0
            while r < MAX_ROUNDS and (time.perf_counter() - w0 < self.seconds
                                      or r < MIN_ROUNDS):
                self.round(r)
                r += 1
        finally:
            peak = rss.stop()
        self.rdds_added = sc._jsc.getPersistentRDDs().size() - rdds0
        self.mb_added = self.cached_mb() - mb0
        self.peak_rss_mb = peak / 2**20
        log(f"window {time.perf_counter() - w0:.1f} s")
        t1 = time.perf_counter()
        self.run_checks()
        log(f"checks {time.perf_counter() - t1:.1f} s")
        return self.report()

    def cached_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    def run_checks(self) -> None:
        from checks import sink_problems

        for sink, urls in self.sinks.items():
            problems = sink_problems(sink, urls, self.commits.get(sink, {}))
            for c in self.calls:
                if c.sink == sink:
                    c.problems.extend(problems)
            self.checks.extend(f"{os.path.basename(sink)}: {p}" for p in problems)
        self.extra_checks()
        if self.trace:
            want = {"kg_closed_vocab": "driver", "kg_increments": "driver",
                    "kg_open_vocab": "distributed"}[self.workload]
            bad = [p for p in self.tracer.paths() if p != want]
            if bad:
                msg = f"graph.path guard: {len(bad)} connected_components calls took the {bad[0]} path"
                self.checks.append(msg)
                for rd in self.rounds:
                    if rd.traced:
                        for c in rd.calls:
                            if c.kind == "commit":
                                c.problems.append(msg)

    # -- metrics ---------------------------------------------------------
    def end_to_end(self) -> dict[str, tuple[str, list[float]]]:
        # a call that failed or wrote wrong output counts in error_rate,
        # not in the timings; only if none succeeded do they fall back to
        # every call, so each metric is still reported (correct = false)
        rounds = [rd for rd in self.rounds if not any(c.failed for c in rd.calls)] or self.rounds
        commits = [c for rd in rounds for c in rd.calls if c.kind == "commit" and c.result]
        noops = [c for rd in rounds for c in rd.calls if c.kind == "noop" and c.result]
        sink_bpt = []
        for sink in self.sinks:
            triples = sum(self.commits.get(sink, {}).values())
            if triples:
                sink_bpt.append(dir_bytes(sink, sink + "_processed") / triples)
        return {
            "docs_per_s": ("docs/s", [c.result["n_pending"] / c.wall_s for c in commits]),
            "commit_p50_s": ("s", [c.wall_s for c in commits]),
            "noop_p50_s": ("s", [c.wall_s for c in noops]),
            "cpu_s_per_kdoc": ("cpu-s/kdoc", [rd.cpu_s / (rd.docs / 1000) for rd in rounds if rd.docs]),
            "peak_rss_mb": ("MB", [self.peak_rss_mb]),
            "sink_bytes_per_triple": ("bytes", sink_bpt),
            "error_rate": ("fraction", [sum(c.failed for c in self.calls) / max(1, len(self.calls))]),
            "setup_s": ("s", [self.setup_s]),
        }

    def per_layer(self) -> dict[str, tuple[str, float]]:
        from spans import LAYERS, SPAN_FIELDS, median_rounds

        traced = [rd for rd in self.rounds if rd.traced]
        per_round = self.tracer.rounds([(rd.t0, rd.t1) for rd in traced])
        out = {}
        for name, _, _ in LAYERS:
            for fld, unit in SPAN_FIELDS:
                out[f"{name}.{fld}"] = (unit, median_rounds(per_round, name, fld))
        mentions = sum(s.mentions or 0 for s in self.tracer.spans)
        t_calls = [c for rd in traced for c in rd.calls if c.result]
        pending = sum(c.result["n_pending"] for c in t_calls)
        new = sum(c.result["n_new_triples"] for c in t_calls)
        paths = self.tracer.paths()
        sink_files = [count_files(s, s + "_processed") for s in self.sinks]

        out.update({
            "session.start_s": ("s", self.session_start_s),
            "checkpoint.pending_ratio": ("ratio", pending / max(1, sum(c.docs_in for c in t_calls))),
            "checkpoint.sink_files": ("count", statistics.median(sink_files)),
            "checkpoint.cached_rdds_after": ("count/round", self.rdds_added / len(self.rounds)),
            "checkpoint.cached_mb_after": ("MB/round", self.mb_added / len(self.rounds)),
            "graph.path_distributed": ("share", sum(p == "distributed" for p in paths) / max(1, len(paths))),
            "mentions.per_doc": ("count", mentions / max(1, pending)),
            "triples.per_doc": ("count", new / max(1, pending)),
            "trace.docs_per_s": ("docs/s", statistics.median(
                rd.docs / rd.wall("commit") for rd in traced)),
            "trace.overhead_pct": ("%", 100 * self.tracer.bookkeeping_s
                                   / sum(rd.t1 - rd.t0 for rd in traced)),
        })
        return out

    def report(self) -> dict:
        failed = sum(c.failed for c in self.calls)
        print(f"workload {self.workload} seed {self.seed} trace {int(self.trace)}: "
              f"{len(self.rounds)} rounds, {len(self.calls)} calls, {failed} failed; "
              f"output checks: {'ok' if not self.checks else '; '.join(self.checks)}")
        metrics = {}
        if not self.trace:
            print(f"{'metric':<24}{'unit':<12}{'median':>12}{'q1':>12}{'q3':>12}{'n':>5}")
            for name, (unit, vals) in self.end_to_end().items():
                s = summary(vals)
                if not s["n"]:
                    continue
                tail = "".join(f"  p{p}={s[f'p{p}']:.4g}" for p in (99, 90) if f"p{p}" in s)
                print(f"{name:<24}{unit:<12}{s['median']:>12.4f}{s['q1']:>12.4f}"
                      f"{s['q3']:>12.4f}{s['n']:>5}{tail}")
                if name == "error_rate":
                    continue  # carried by "attempted"/"failed"; it is 0 when correct
                metrics[name] = {"value": s["median"], "unit": unit}
        else:
            rows = self.per_layer()
            self.print_spans(rows)
            for name, (unit, v) in rows.items():
                metrics[name] = {"value": v, "unit": unit}
        return {"correct": failed == 0 and not self.checks, "attempted": len(self.calls),
                "failed": failed, "metrics": metrics}

    def print_spans(self, rows) -> None:
        from spans import LAYERS, SPAN_FIELDS

        print(f"{'span (median per traced round)':<34}" + "".join(f"{f:>17}" for f, _ in SPAN_FIELDS))
        for name, _, _ in LAYERS:
            print(f"{name:<34}" + "".join(f"{rows[f'{name}.{f}'][1]:>17.3f}" for f, _ in SPAN_FIELDS))
        children = [n for n, _, _ in LAYERS if n != "checkpoint.run_resumable"]
        top = max((n for n, _, _ in LAYERS), key=lambda n: rows[f"{n}.self_s"][1])
        top_child = max(children, key=lambda n: rows[f"{n}.self_s"][1])
        paths = sorted(set(self.tracer.paths()))
        print(f"largest self time: {top}; largest child span: {top_child}; "
              f"graph.path = {'/'.join(paths) or 'none'}")
        for name in ("session.start_s", "checkpoint.pending_ratio", "checkpoint.sink_files",
                     "checkpoint.cached_rdds_after", "checkpoint.cached_mb_after",
                     "graph.path_distributed", "mentions.per_doc", "triples.per_doc",
                     "trace.docs_per_s", "trace.overhead_pct"):
            unit, v = rows[name]
            print(f"{name:<34}{v:>12.4f} {unit}")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def dir_bytes(*dirs: str) -> int:
    return sum(os.path.getsize(p) for p in _parquet_files(*dirs))


def count_files(*dirs: str) -> int:
    return len(_parquet_files(*dirs))


def _parquet_files(*dirs: str) -> list[str]:
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out.extend(os.path.join(base, f) for f in files if f.endswith(".parquet"))
    return out


# -- workloads ---------------------------------------------------------------

class FreshSinkBench(Bench):
    """Each round: a fresh batch into a fresh sink, then a no-op rerun."""

    batch_docs: int
    warm_docs: int

    def make_docs(self, batch: int, n: int):
        raise NotImplementedError

    def setup(self) -> None:
        from inputs import write_docs

        self.batches = []
        for b in range(WARMUP_ROUNDS + MAX_ROUNDS):
            n = self.warm_docs if b < WARMUP_ROUNDS else self.batch_docs
            d = os.path.join(WORK, "in", f"b{b:03d}")
            tbl = self.make_docs(b, n)
            write_docs(tbl, os.path.join(d, "documents.parquet"))
            self.batches.append((d, tbl))
        for b in range(WARMUP_ROUNDS):
            self.one_round(b, timed=False)

    def one_round(self, b: int, timed: bool = True) -> list[Call]:
        from qizner_spark.sources.pages import pages_from_documents

        d, tbl = self.batches[b]
        sink = os.path.join(WORK, "sinks", f"s{b:03d}")
        pages = pages_from_documents(self.spark, d, widen=True)
        if timed:
            self.sinks[sink] = urls_of(tbl)
        return [self.call("commit", pages, sink, tbl.num_rows, timed),
                self.call("noop", pages, sink, tbl.num_rows, timed)]

    def run_round(self, r: int) -> list[Call]:
        return self.one_round(WARMUP_ROUNDS + r)


class ClosedVocab(FreshSinkBench):
    batch_docs, warm_docs = CLOSED_BATCH, CLOSED_WARM

    def __init__(self, *a):
        super().__init__(*a)
        self.kg_kwargs = headline_kwargs()

    def make_docs(self, batch, n):
        from inputs import closed_docs

        return closed_docs(self.seed, batch, n)

    def extra_checks(self) -> None:
        from checks import oracle_problems

        first = next((c for c in self.calls if c.kind == "commit" and c.result), None)
        if first is None:
            self.checks.append("no committed batch to compare with the oracle")
            return
        b = int(os.path.basename(first.sink)[1:])
        problems = oracle_problems(self.spark, first.sink, first.result["run_id"],
                                   os.path.join(self.batches[b][0], "documents.parquet"),
                                   entry_module().oracle_sql()["kg_triples"])
        first.problems.extend(problems)
        self.checks.extend(problems)


class OpenVocab(FreshSinkBench):
    batch_docs, warm_docs = OPEN_BATCH, OPEN_WARM

    def __init__(self, *a):
        super().__init__(*a)
        from inputs import open_vocab_scorer

        self.kg_kwargs = dict(scorer_factory=open_vocab_scorer,
                              max_entities_per_doc=entry_module().COMENTION_CAP)

    def make_docs(self, batch, n):
        from inputs import open_docs

        return open_docs(self.seed, batch, n)


class Increments(Bench):
    """One sink, pre-loaded with a base table in set-up. Before each
    round (untimed) a Spark job appends a fresh increment to the
    cumulative landed table; the round commits it, then reruns with
    nothing pending.

    A Spark write refreshes every cached plan that reads the path it
    writes to. ``land="external"`` moves the increment file into the
    landed directory instead, as a landing process outside Spark would:
    the plans that earlier calls leave cached (``mentions``, ``ent_pre``)
    then keep the old file listing, and a commit can mark its urls
    processed without writing their triples. The per-increment oracle
    check reports such a commit as failed."""

    def __init__(self, *a, land: str = "spark"):
        super().__init__(*a)
        self.kg_kwargs = headline_kwargs()
        self.land_mode = land

    def setup(self) -> None:
        from inputs import closed_docs, write_docs

        self.landed = os.path.join(WORK, "landed")
        self.sink = os.path.join(WORK, "sinks", "inc")
        # the base lands as earlier increments did, one file each, so the
        # table already has at least as many files as cores: the scan's
        # partitioning then no longer changes as increments arrive
        base = closed_docs(self.seed, 0, INC_BASE)
        per_file = INC_BASE // BASE_FILES
        for k in range(BASE_FILES):
            write_docs(base.slice(k * per_file, per_file),
                       os.path.join(self.landed, "documents.parquet", f"base-{k:03d}.parquet"))
        self.urls = urls_of(base)
        self.n_landed = base.num_rows
        self.staged = []
        for k in range(MAX_ROUNDS):
            p = os.path.join(WORK, "staged", f"inc-{k:03d}.parquet")
            tbl = closed_docs(self.seed, 1 + k, INC_SIZE)
            write_docs(tbl, p)
            self.staged.append((p, tbl))
        # the pre-load is the cold call; a no-op rerun over the now
        # non-empty sink then warms the resume path
        self.call("commit", self.pages(), self.sink, self.n_landed, timed=False)
        self.call("noop", self.pages(), self.sink, self.n_landed, timed=False)
        self.sinks[self.sink] = self.urls

    def pages(self):
        from qizner_spark.sources.pages import pages_from_documents

        return pages_from_documents(self.spark, self.landed, widen=True)

    def land(self, k: int) -> str:
        """Append staged increment ``k`` to the landed table; returns a
        documents file holding exactly the increment."""
        path, tbl = self.staged[k]
        table = os.path.join(self.landed, "documents.parquet")
        if self.land_mode == "spark":
            self.spark.read.parquet(path).write.mode("append").parquet(table)
        else:
            path = shutil.move(path, os.path.join(table, os.path.basename(path)))
        self.urls |= urls_of(tbl)
        self.n_landed += tbl.num_rows
        return path

    def prepare_round(self, r: int) -> None:
        self.increment = self.land(r)

    def run_round(self, r: int) -> list[Call]:
        pages = self.pages()
        commit = self.call("commit", pages, self.sink, self.n_landed)
        commit.increment = self.increment
        return [commit, self.call("noop", pages, self.sink, self.n_landed)]

    def extra_checks(self) -> None:
        from checks import increment_problems

        sql = entry_module().oracle_sql()["kg_triples"]
        for c in self.calls:
            if c.kind == "commit" and c.result and c.result.get("run_id"):
                problems = increment_problems(c.sink, c.result["run_id"], c.increment, sql)
                c.problems.extend(problems)
                self.checks.extend(problems)


def entry_module():
    import __spark_entry__

    return __spark_entry__


def headline_kwargs() -> dict:
    """The ``kg_triples`` configuration: single-token gazetteer, curated
    (bounded) alias dictionary, co-mention cap."""
    em = entry_module()
    return dict(scorer_factory=em._kg_single_factory, broadcast_alias=True,
                max_entities_per_doc=em.COMENTION_CAP)


def urls_of(tbl) -> set[str]:
    """Urls ``pages_from_documents`` derives from a documents table."""
    return {f"https://{s}.example.com/doc/{i}"
            for s, i in zip(tbl.column("source").to_pylist(), tbl.column("doc_id").to_pylist())}


BENCHES = {"kg_closed_vocab": ClosedVocab, "kg_increments": Increments,
           "kg_open_vocab": OpenVocab}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(BENCHES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--land", choices=("spark", "external"), default="spark",
                    help="kg_increments: how an increment reaches the landed table")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "qizner_spark")):
        print("perfbench: run from the repository root (qizner_spark/ not found)", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    # the package and these modules must import in Spark's Python workers too
    here = os.path.dirname(os.path.abspath(__file__))
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, here])
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["QIZNER_DRIVER_MEM"] = DRIVER_MEM
    for k in ("QIZNER_SPARK_MASTER", "QIZNER_SHUFFLE_PARTITIONS",
              "QIZNER_INITIAL_SHUFFLE_PARTITIONS", "QIZNER_MIN_PARTITION_SIZE"):
        os.environ.pop(k, None)
    sys.path[:0] = [ROOT, here]

    kw = {"land": args.land} if args.workload == "kg_increments" else {}
    bench = BENCHES[args.workload](args.workload, args.seed, args.seconds, bool(args.trace), **kw)
    try:
        result = bench.run()
    finally:
        if hasattr(bench, "spark"):
            t0 = time.perf_counter()
            bench.stop_session()
            log(f"stop {time.perf_counter() - t0:.1f} s")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
