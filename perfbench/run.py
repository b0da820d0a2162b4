"""Pages -> triples benchmark for causalre_spark.

    python3 perfbench/run.py --workload topic_crawl --seed 1 --seconds 14 --trace 0

Drives the public batch API (pipeline.run_pipeline, pipeline.run_incremental)
from one process on local[nproc] with the default PipelineConfig. Each
workload is a closed loop: one job at a time, each into an empty
checkpoint workdir, the next starting when the last one finishes.
Every job's triples are compared with the single-process oracle
(oracle.pipeline.oracle_pipeline) over the same pages; a job that raises
or differs counts as failed.

--trace 0 prints the end-to-end metrics (untraced). --trace 1 repeats the
untraced loop, then makes one traced job in a fresh session with the
event log on, reruns it over its completed workdir (the resume probe),
and prints per-layer metrics. The last stdout line is one JSON object.
`--workload all` runs every workload in turn, each in its own process.

Not measured: the distributed linking path (MinHash-LSH join plus
distributed connected components). It runs only above
link_driver_max_forms (200k forms), far beyond what a small host can
build in a run; linking.distributed records which path ran.

Everything the run writes goes under perfbench/_local/ in the checkout.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
LOCAL = HERE / "_local"
DRIVER_MEM = "1g"  # the program's 48g default heap ceiling exceeds small hosts
SETUP_SAMPLES = 3
TRIPLE_KEY = ("cause_id", "cause", "predicate", "effect_id", "effect", "n_evidence")


@dataclass(frozen=True)
class Workload:
    name: str
    pages: int      # corpus pages
    places: int     # place-name pool of the open vocabulary; 0 = closed vocabulary
    delta: int = 0  # > 0: set-up builds the corpus, the timed job is
                    # run_incremental over corpus + `delta` new pages


WORKLOADS = {w.name: w for w in (
    # closed vocabulary (~280 forms): extract is the largest layer and
    # linking has almost no work
    Workload("topic_crawl", pages=2000, places=0),
    # 10% new pages on a finished open, place-qualified corpus: reads
    # earlier sinks, extracts only the delta, relinks everything
    Workload("crawl_delta", pages=400, places=20000, delta=40),
)}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# -- inputs and the oracle ------------------------------------------

def write_pages(rows: list[dict], path: Path, files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())])
    path.mkdir(parents=True)
    for j in range(files):
        pq.write_table(pa.Table.from_pylist(rows[j::files], schema=schema),
                       path / f"part-{j:05d}.parquet")


def oracle_cache_path(w: Workload, seed: int) -> Path:
    """Cache file keyed by the workload, the seed and the source of the
    generator and of the program (the oracle is part of the program)."""
    h = hashlib.sha256(repr((w, seed)).encode())
    for f in sorted([HERE / "pages.py", *(ROOT / "causalre_spark").rglob("*.py")]):
        h.update(f.read_bytes())
    return LOCAL / "oracle" / f"{w.name}-{seed}-{h.hexdigest()[:16]}.json"


def compute_oracle(w: Workload, seed: int, out: str) -> None:
    """Oracle triples over every page the timed job sees (for crawl_delta,
    corpus plus delta); runs in a child process (see Bench.make_inputs)."""
    from causalre_spark.oracle.pipeline import oracle_pipeline
    import pages

    rows = oracle_pipeline(pages.pages(seed, 0, w.pages + w.delta, w.places))["triples"]
    tmp = out + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(sorted([r[k] for k in TRIPLE_KEY] for r in rows), fh)
    os.replace(tmp, out)


def triple_set(rows) -> set[tuple]:
    return {tuple(r[k] for k in TRIPLE_KEY) for r in rows}


# -- process measurements ------------------------------------------

def rss_bytes(root_pid: int) -> int:
    """RSS of the JVM root_pid plus its Python descendants (the pyspark
    daemons and workers), from /proc. Other descendants are left out:
    a child the JVM forks to exec a shell command briefly maps the whole
    JVM and would count it twice."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            if pid != root_pid:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    if b"pyspark" not in fh.read():
                        continue
            with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
                total += int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            continue
    return total


class PeakRss:
    """Samples rss_bytes every 0.2 s on a thread while active."""

    def __init__(self, pid: int):
        self.pid, self.peak = pid, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, rss_bytes(self.pid))
            if self._stop.wait(0.2):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def become_subreaper() -> None:
    """Make orphaned descendants (the pyspark daemon and its workers, once
    the JVM that forked them exits) children of this process, so that
    stop_descendants can wait for them."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_descendants(grace: float = 20.0) -> None:
    """Wait until this process has no child left: reap the ones that ended,
    ask the rest to stop (SIGTERM, after `grace` s SIGKILL)."""
    me, deadline, signalled = os.getpid(), time.monotonic() + grace, set()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        live = []
        for d in os.listdir("/proc"):
            try:
                with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue
            if int(fields[1]) == me and fields[0] != "Z":
                live.append(int(d))
        late = time.monotonic() > deadline
        for pid in live:
            if pid not in signalled or late:
                try:
                    os.kill(pid, signal.SIGKILL if late else signal.SIGTERM)
                except ProcessLookupError:
                    pass
                signalled.add(pid)
        time.sleep(0.05)


# -- the benchmark -------------------------------------------------

class Bench:
    def __init__(self, w: Workload, seed: int, work: Path):
        self.w, self.seed, self.work = w, seed, work
        self.cores = nproc()
        self.spark = None
        self.attempted = self.failed = 0
        self.want: set[tuple] | None = None
        self.peak_rss_mb = 0.0
        self._runs = 0

    # session lifetime
    def start_session(self, extra_conf: dict | None = None) -> float:
        """get_spark with program defaults (memory aside) up to the first
        finished Python-worker job; returns that set-up time."""
        from causalre_spark.session import get_spark

        conf = {"spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData",
                **(extra_conf or {})}
        t0 = time.perf_counter()
        self.spark = get_spark(cores=self.cores, extra_conf=conf)
        (self.spark.range(self.cores, numPartitions=self.cores)
         .mapInPandas(lambda it: it, "id long").collect())
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown_jvm(self) -> None:
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        if gw is None:
            return
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    # inputs
    def make_inputs(self):
        import pages

        files = 4 * self.cores
        write_pages(pages.pages(self.seed, 0, self.w.pages, self.w.places),
                    self.work / "corpus", files)
        if self.w.delta:
            write_pages(pages.pages(self.seed, self.w.pages, self.w.pages + self.w.delta,
                                    self.w.places), self.work / "delta", files)
        cache = oracle_cache_path(self.w, self.seed)
        if cache.exists():
            return None
        cache.parent.mkdir(parents=True, exist_ok=True)
        # a plain child process: multiprocessing would leave its resource
        # tracker running after this process exits
        return subprocess.Popen([sys.executable, "-c", (
            f"import sys; sys.path[:0] = {[str(ROOT), str(HERE)]!r}; import run; "
            f"run.compute_oracle(run.WORKLOADS[{self.w.name!r}], {self.seed}, {str(cache)!r})")])

    def load_oracle(self, proc) -> None:
        if proc is not None:
            if proc.wait() != 0:
                raise RuntimeError(f"oracle process failed (exit {proc.returncode})")
        with open(oracle_cache_path(self.w, self.seed), encoding="utf-8") as fh:
            self.want = {tuple(r) for r in json.load(fh)}

    # jobs
    def fresh_workdir(self) -> Path:
        self._runs += 1
        return self.work / "runs" / str(self._runs)

    def job(self, workdir: Path):
        from causalre_spark.pipeline import run_incremental, run_pipeline

        read = self.spark.read.parquet
        if self.w.delta:
            return run_incremental(
                self.spark, read(str(self.work / "corpus"), str(self.work / "delta")),
                prev_workdir=str(self.work / "base"), workdir=str(workdir))
        return run_pipeline(self.spark, read(str(self.work / "corpus")),
                            workdir=str(workdir))

    def build_base(self) -> None:
        from causalre_spark.pipeline import run_pipeline

        run_pipeline(self.spark, self.spark.read.parquet(str(self.work / "corpus")),
                     workdir=str(self.work / "base"))
        self.spark.catalog.clearCache()

    def warm_up(self) -> None:
        wd = self.fresh_workdir()
        self.job(wd)
        self.spark.catalog.clearCache()
        shutil.rmtree(wd)

    def checked_job(self, workdir: Path, timer=None) -> float:
        """One job plus its oracle check; returns the job's wall time."""
        t0 = time.perf_counter()
        ok = False
        try:
            res = self.job(workdir) if timer is None else timer(lambda: self.job(workdir))
            wall = time.perf_counter() - t0
            got = triple_set(res["triples"].collect())
            ok = got == self.want
            if not ok:
                print(f"perfbench: triples differ from the oracle: "
                      f"{len(got - self.want)} extra, {len(self.want - got)} missing",
                      file=sys.stderr)
        except Exception:  # a failing job is counted, never skipped
            wall = time.perf_counter() - t0
            traceback.print_exc()
        self.attempted += 1
        self.failed += not ok
        self.spark.catalog.clearCache()
        return wall

    def timed_loop(self, seconds: float) -> tuple[list[float], int]:
        walls = []
        with PeakRss(self.jvm_pid()) as rss:
            deadline = time.perf_counter() + seconds
            while not walls or time.perf_counter() < deadline:
                wd = self.fresh_workdir()
                walls.append(self.checked_job(wd))
                shutil.rmtree(wd, ignore_errors=True)
        return walls, rss.peak


def end_to_end(b: Bench, seconds: float, setup_samples: int = SETUP_SAMPLES) -> dict:
    setups = [b.start_session()]
    oracle_proc = b.make_inputs()
    # untimed full-size pass: the first pass in a JVM is the slowest
    if b.w.delta:
        b.build_base()
    else:
        b.warm_up()
    b.load_oracle(oracle_proc)
    walls, peak = b.timed_loop(seconds)
    for _ in range(setup_samples - 1):
        b.stop_session()
        setups.append(b.start_session())
    wall = statistics.median(walls)
    new_pages = b.w.delta or b.w.pages
    print(f"# {b.w.name} seed={b.seed} cores={b.cores} pages={new_pages}"
          f"{' new' if b.w.delta else ''} oracle_triples={len(b.want)}")
    print(f"# setup_s samples: {' '.join(f'{s:.3f}' for s in setups)} (first is a cold JVM)")
    print(f"# wall_s samples ({len(walls)}): {' '.join(f'{s:.3f}' for s in walls)}")
    # reported, not gated: it moves by 1 GB between identical runs with
    # the number of Python workers the program happens to fork
    print(f"# peak_rss_mb {peak / 2**20:.1f} MB (driver JVM + Python workers)")
    b.peak_rss_mb = peak / 2**20
    return {
        "setup_s": (statistics.median(setups), "s"),
        "wall_s": (wall, "s"),
        "pages_per_s": (new_pages / wall, "1/s"),
    }


def per_layer(b: Bench, seconds: float) -> dict:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from causalre_spark.config import DEFAULT_CONFIG
    from tracing import LAYER_OF, Tracer, event_log_totals

    metrics = end_to_end(b, seconds, setup_samples=1)
    untraced = metrics["wall_s"][0]
    b.stop_session()
    log_dir = b.work / "eventlog"
    log_dir.mkdir()
    b.start_session({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": log_dir.as_uri(),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    # the new session forks fresh Python workers; let an untraced job pay
    # for that so the traced job compares with the warm untraced loop
    b.warm_up()
    tracer = Tracer(b.spark)
    tracer.install()
    wd = b.fresh_workdir()
    try:
        name = "run_incremental" if b.w.delta else "run_pipeline"

        def in_job(phase):
            def run(fn):
                with tracer.job(name, phase):
                    return fn()
            return run

        traced = b.checked_job(wd, in_job("run"))
        rows: dict[str, int] = {}
        for r in pq.read_table(wd / "_metrics").to_pylist():
            rows[r["stage"]] = rows.get(r["stage"], 0) + r["rows"]
        checkpoint_bytes = sum(f.stat().st_size for f in wd.rglob("*") if f.is_file())
        entities = pc.count_distinct(
            pq.read_table(wd / "entities", columns=["canonical_id"])["canonical_id"]).as_py()
        resume_s = b.checked_job(wd, in_job("resume"))
    finally:
        tracer.uninstall()
    b.stop_session()  # finalizes the event log

    LOCAL.joinpath("traces").mkdir(parents=True, exist_ok=True)
    spans_out = LOCAL / "traces" / f"{b.w.name}-{b.seed}-{tracer.run_id}.jsonl"
    tracer.dump(str(spans_out))
    spans = [sp for sp in tracer.closed_spans() if sp["phase"] == "run"]
    events = event_log_totals(str(log_dir))

    layers = {k: {"wall_s": 0.0, "jobs": 0, "task_s": 0.0, "shuffle_read_bytes": 0,
                  "shuffle_write_bytes": 0, "spill_bytes": 0}
              for k in set(LAYER_OF.values())}
    for sp in spans:
        if sp["name"].startswith("segment:"):
            layers[LAYER_OF[sp["stage"]]]["wall_s"] += sp["wall_s"]
    for group, t in events.items():
        phase, _, stage = group.partition(":")
        if phase == "run":
            for k in ("jobs", "task_s", "shuffle_read_bytes", "shuffle_write_bytes",
                      "spill_bytes"):
                layers[LAYER_OF[stage]][k] += t[k]
    calls = {n: sum(1 for sp in spans if sp["name"] == n)
             for n in ("link_mentions", "link_forms_driver")}
    ex, li, tr = layers["extract"], layers["linking"], layers["triples"]
    m = {
        "extract.wall_s": (ex["wall_s"], "s"),
        "extract.task_s": (ex["task_s"], "s"),
        "extract.idle_core_s": (b.cores * ex["wall_s"] - ex["task_s"], "s"),
        "extract.rows": (rows.get("docs", 0), "count"),
        "extract.jobs": (ex["jobs"], "count"),
        "extract.shuffle_write_bytes": (ex["shuffle_write_bytes"], "bytes"),
        "explode.wall_s": (layers["explode"]["wall_s"], "s"),
        "explode.spans": (rows.get("spans", 0), "count"),
        "explode.relations": (rows.get("relations", 0), "count"),
        "linking.wall_s": (li["wall_s"], "s"),
        "linking.driver_s": (sum(sp["wall_s"] for sp in spans
                                 if sp["name"] == "link_forms_driver"), "s"),
        "linking.forms": (rows.get("entities", 0), "count"),
        "linking.entities": (entities, "count"),
        "linking.distributed": (calls["link_mentions"] - calls["link_forms_driver"], "count"),
        "linking.idle_core_s": (b.cores * li["wall_s"] - li["task_s"], "s"),
        "linking.jobs": (li["jobs"], "count"),
        "linking.shuffle_write_bytes": (li["shuffle_write_bytes"], "bytes"),
        "triples.wall_s": (tr["wall_s"], "s"),
        "triples.rows": (rows.get("triples", 0), "count"),
        "triples.shuffle_read_bytes": (tr["shuffle_read_bytes"], "bytes"),
        "triples.shuffle_write_bytes": (tr["shuffle_write_bytes"], "bytes"),
        "triples.spill_bytes": (tr["spill_bytes"], "bytes"),
        "stageio.checkpoint_bytes": (checkpoint_bytes, "bytes"),
        "stageio.resume_s": (resume_s, "s"),
        "stageio.resume_jobs": (sum(t["jobs"] for g, t in events.items()
                                    if g.startswith("resume:")), "count"),
        "trace.overhead_s": (traced - untraced, "s"),
        "session.peak_rss_mb": (b.peak_rss_mb, "MB"),
    }
    walls = {k: v["wall_s"] for k, v in layers.items()}
    top = max(walls, key=walls.get)
    print(f"# traced wall {traced:.3f} s; layer wall shares: "
          + " ".join(f"{k}={v / traced:.0%}" for k, v in sorted(walls.items()))
          + f"; dominant layer: {top}")
    print(f"# linking path: {'distributed' if m['linking.distributed'][0] else 'driver'}"
          f" ({rows.get('entities', 0)} forms; driver cutover at"
          f" link_driver_max_forms={DEFAULT_CONFIG.link_driver_max_forms})")
    print(f"# spans: {spans_out.relative_to(ROOT)}")
    return m


def run_one(args, work: Path) -> int:
    b = Bench(WORKLOADS[args.workload], args.seed, work)
    try:
        metrics = (per_layer if args.trace else end_to_end)(b, args.seconds)
    finally:
        try:
            b.shutdown_jvm()
        finally:
            stop_descendants()
            shutil.rmtree(work, ignore_errors=True)
    for name, (value, unit) in metrics.items():
        print(f"{name:30s} {value:14.4f} {unit}")
    print(f"# output check: {b.attempted - b.failed}/{b.attempted} jobs equal the oracle; "
          f"failed_frac={b.failed / b.attempted:.3f}")
    print(json.dumps({
        "correct": b.failed == 0, "attempted": b.attempted, "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=14)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a SIGTERM unwinds like an exception, so every child is still stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload == "all":
        rc = 0
        for name in WORKLOADS:
            rc = max(rc, subprocess.run(
                [sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace)]).returncode)
        return rc
    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        import causalre_spark.pipeline  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    become_subreaper()
    work = LOCAL / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    for d in ("tmp", "local"):
        (work / d).mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # Spark's Python workers import the program from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    return run_one(args, work)


if __name__ == "__main__":
    sys.exit(main())
