"""sparkgrep benchmark: top-k BM25 serving over a freshly built index.

    python3 perfbench/run.py --workload query_solo --seed 1 --seconds 5 --trace 0

Run from the repository root. One run starts Spark (``local[4]``), writes a
seeded Zipf ``documents.parquet``, sets up once (index build, reader open,
one warm-up query), then runs closed-loop clients over whole rounds of the
eight query shapes for at least ``--seconds`` and checks every result
against the DuckDB oracle. The last stdout line is the result JSON; the
line before it describes the host and the run.

``--trace 1`` adds spans around calls into the package, Spark's event log
and the ``functions.blocks`` microbenchmark, and reports per-layer metrics
instead of end-to-end ones. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

from inputs import SHAPES, query_pool, write_documents

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

CORES = 4
K = 20
N_DOCS = 2000
# __spark_entry__._get_reader builds on 32 partitions and 32 shuffle partitions
BUILD_PARTITIONS = 32
POOL_SETS = 4

WORKLOADS = {
    # 1 client, tail terms: latency is the per-query chain of Spark jobs. A
    # run affords about four solo queries beside its set-up, so the round is
    # the two WAND shapes and their plain twins, whose gap is WAND's own cost
    "query_solo": {
        "clients": 1, "term_class": "tail",
        "shapes": ("single", "or", "wand_single", "wand_or"),
    },
    # 4 clients, head terms: the same chains contend for the scheduler and cores
    "query_serve": {"clients": CORES, "term_class": "head", "shapes": SHAPES},
}

STEP_MARKERS = (
    ("ingest.journal", ("journal", "_SUCCESS")),
    ("index_build.stats", ("corpus_stats.json",)),
    ("index_build.postings", ("manifest", "part-0.json")),
    ("index_build.prio", ("prio", "_SUCCESS")),
    ("index_build.term_bounds", ("term_bounds", "_SUCCESS")),
)
QUERY_LAYERS = (
    ("parser.parse_s", "parser.parse_query"),
    ("query_exec.lexicon_s", "query_exec.term_stats"),
    ("query_exec.plan_s", "query_exec.run_search"),
    ("query_exec.execute_s", "query_exec.collect"),
)


def metric_units() -> dict[str, str]:
    """Each metric's unit, as ``BENCHMARK.json`` declares it."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def host_info(seed: int) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 2),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "seed": seed,
    }


def start_spark(trace: bool):
    from marginaliasearch_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    conf = {
        "spark.driver.memory": "2g",
        # fixed heap and young-generation sizes keep peak RSS from following
        # G1's adaptive resizing, which varies run to run
        "spark.driver.extraJavaOptions": f"-Xms2g -Xmn512m -Djava.io.tmpdir={tmp}",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(WORK, "events")
        os.makedirs(events, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{events}",
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark("perfbench", cores=CORES, extra_conf=conf)


def descendants(pid: int) -> list[int]:
    """Process ids below ``pid`` (the JVM's Python daemon and its workers)."""
    out, todo = [], [pid]
    while todo:
        for path in glob.glob(f"/proc/{todo.pop()}/task/*/children"):
            try:
                with open(path) as f:
                    kids = [int(k) for k in f.read().split()]
            except OSError:
                continue
            out += kids
            todo += kids
    return out


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM and its Python workers to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 30
    for pid in children:
        while alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if alive(pid):
            os.kill(pid, signal.SIGKILL)


def alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited process awaiting its reaper is not."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Bench:
    """One run's Spark session, span recorder and executed queries."""

    def __init__(self, spark, trace: bool):
        from spans import Recorder

        self.spark = spark
        self.trace = trace
        self.rec = Recorder()
        self.executions = []  # (phase, Query, rows, start, end, group)
        self.errors = []
        self._lock = threading.Lock()
        self._n = 0
        self._issued = 0

    # --- one query -----------------------------------------------------
    def query(self, reader, q, phase: str, parent=None):
        from pyspark.sql import functions as F

        from marginaliasearch_spark.operators.query_exec import RankingParams, run_search
        from marginaliasearch_spark.plans.parser import parse_query

        with self._lock:
            self._n += 1
            group = f"{phase}-{self._n}-{q.shape}"
        kw = {"k": K, "round_score_to": 6, "tie_break": F.col("conv_id").cast("long")}
        if q.positional:
            kw["ranking"] = RankingParams(positional=True)

        def result(df):
            return [
                (r[0], r[1])
                for r in df.select(F.col("conv_id").cast("long"), "score").collect()
            ]

        start = time.time()
        if not self.trace:
            rows = result(run_search(reader, q.text, **kw))
        else:
            self.spark.sparkContext.setJobGroup(group, q.text)
            with self.rec.span("query", parent, group=group, shape=q.shape, phase=phase) as s:
                with self.rec.span("parser.parse_query", s):
                    pq = parse_query(q.text)
                with self.rec.span("query_exec.term_stats", s):
                    reader.term_stats(
                        pq.all_include_terms() + pq.exclude + pq.priority + pq.advice,
                        lang=pq.lang,
                    )
                with self.rec.span("query_exec.run_search", s):
                    df = run_search(reader, pq, **kw)
                with self.rec.span("query_exec.collect", s):
                    rows = result(df)
        end = time.time()
        with self._lock:
            self.executions.append((phase, q, rows, start, end, group))

    # --- set-up: build, open, warm up ------------------------------------
    def setup(self, docs_dir: str, warm_query):
        from marginaliasearch_spark.operators.index_build import IndexPaths, build_index
        from marginaliasearch_spark.operators.ingest import conv_ranks_by_quality
        from marginaliasearch_spark.operators.query_exec import IndexReader
        from marginaliasearch_spark.sources.transcripts import documents_as_transcripts

        root = os.path.join(WORK, "index")
        group = "setup"
        conf = self.spark.conf
        if self.trace:
            self.spark.sparkContext.setJobGroup(group, group)
        with self.rec.span("setup", group=group, root=root) as s:
            with self.rec.span("index_build.build_index", s, group=group, root=root) as b:
                # as _get_reader builds: queries keep the session's partitions
                old_parts = conf.get("spark.sql.shuffle.partitions")
                conf.set("spark.sql.shuffle.partitions", str(BUILD_PARTITIONS))
                try:
                    tx = documents_as_transcripts(self.spark, docs_dir)
                    build_index(
                        self.spark, tx, root, n_buckets=1, partitions=BUILD_PARTITIONS,
                        ranks=conv_ranks_by_quality(tx),
                    )
                finally:
                    conf.set("spark.sql.shuffle.partitions", old_parts)
            with self.rec.span("query_exec.reader_open", s):
                reader = IndexReader(self.spark, IndexPaths(root))
            self.query(reader, warm_query, "warm", parent=s)
        return reader, root, s, b

    # --- timed closed loop -------------------------------------------------
    def serve(self, reader, pool, round_len: int, clients: int,
              seconds: float) -> tuple[float, float]:
        """Clients share one walk of the pool, so every ``round_len``
        consecutive queries are one round of the workload's shapes. No query
        is started once ``seconds`` have passed and the last round is complete."""
        from pyspark import InheritableThread

        start = time.time()
        deadline = start + seconds

        def next_query():
            with self._lock:
                if time.time() >= deadline and self._issued % round_len == 0:
                    return None
                self._issued += 1
                return pool[(self._issued - 1) % len(pool)]

        def client():
            while (q := next_query()) is not None:
                try:
                    self.query(reader, q, "timed")
                except Exception:
                    with self._lock:
                        self.errors.append(traceback.format_exc())

        threads = [InheritableThread(target=client) for _ in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=seconds + 170)
            if t.is_alive():
                self.errors.append("a client's last query did not finish")
        return start, max([start] + [e[4] for e in self.executions if e[0] == "timed"])


def build_windows(span, root: str) -> list[tuple[str, float, float]]:
    """Split a build span into steps at the build's own commit markers."""
    out, prev = [], span.start
    for name, rel in STEP_MARKERS:
        mark = os.path.getmtime(os.path.join(root, *rel))
        out.append((name, prev, mark))
        prev = mark
    return out


def per_layer(bench: Bench, loop: tuple[float, float], built: dict, micro: dict) -> dict:
    from eventlog import read_jobs, split_window, summarize

    jobs = read_jobs(os.path.join(WORK, "events"))
    rec = bench.rec
    m: dict[str, float] = {}

    # build steps, split by commit markers
    b = built["build_span"]
    for name, lo, hi in build_windows(b, built["root"]):
        summ = summarize([j for j in jobs if j.group == b.attrs["group"] and lo <= j.submit < hi])
        m[f"{name}_s"] = hi - lo
        if name == "ingest.journal":
            m.update({f"ingest.{key}": summ[key] for key in ("jobs", "task_s", "shuffle_bytes")})
        else:
            m.update({f"{name}.{key}": summ[key] for key in (
                "jobs", "tasks", "task_s", "shuffle_bytes", "spill_bytes", "task_skew")})
    m["index_build.postings_bytes"] = built["postings_bytes"]
    m["index_build.blocks"] = built["blocks"]
    m.update(micro)
    m["query_exec.reader_open_s"] = rec.named("query_exec.reader_open")[0].duration

    # queries: per-query means over the timed loop
    timed = [s for s in rec.named("query") if s.attrs["phase"] == "timed"]
    kids = {s.id: rec.children(s) for s in timed}
    n = len(timed)
    for layer, name in QUERY_LAYERS:
        m[layer] = sum(c.duration for s in timed for c in kids[s.id] if c.name == name) / n
    by_group: dict[str, list] = {}
    for j in jobs:
        by_group.setdefault(j.group, []).append(j)
    totals = {"jobs": 0.0, "stages": 0.0, "tasks": 0.0, "task_s": 0.0, "input_bytes": 0.0,
              "shuffle_bytes": 0.0, "input_records": 0.0, "driver_s": 0.0, "sched_wait_s": 0.0}
    per_shape: dict[str, list[tuple[float, float]]] = {}
    results = {e[5]: len(e[2]) for e in bench.executions}
    n_results = 0
    for s in rec.named("query"):
        if s.attrs["phase"] in ("timed", "extra"):
            per_shape.setdefault(s.attrs["shape"], []).append(
                (summarize(by_group.get(s.attrs["group"], []))["jobs"], s.duration)
            )
    for s in timed:
        qjobs = by_group.get(s.attrs["group"], [])
        summ = summarize(qjobs)
        summ.update(split_window(qjobs, s.start, s.end))
        for key in totals:
            totals[key] += summ[key]
        n_results += results.get(s.attrs["group"], 0)
    for key in ("jobs", "stages", "tasks"):
        m[f"query_exec.{key}_per_query"] = totals[key] / n
    for key in ("driver_s", "sched_wait_s", "task_s"):
        m[f"query_exec.{key}"] = totals[key] / n
    m["query_exec.input_bytes_per_query"] = totals["input_bytes"] / n
    m["query_exec.shuffle_bytes_per_query"] = totals["shuffle_bytes"] / n
    m["query_exec.rows_read_per_result"] = totals["input_records"] / max(1, n_results)
    m["query_exec.core_busy_ratio"] = totals["task_s"] / ((loop[1] - loop[0]) * CORES)
    for shape in SHAPES:
        vals = per_shape[shape]
        m[f"query_exec.jobs.{shape}"] = statistics.mean(v[0] for v in vals)
        m[f"query_exec.p50_s.{shape}"] = statistics.median(v[1] for v in vals)

    # how much of the end-to-end figures the reported layer metrics explain
    m["trace.build_layers_over_setup"] = (
        sum(m[f"{name}_s"] for name, _ in STEP_MARKERS) + m["query_exec.reader_open_s"]
    ) / built["setup_s"]
    m["trace.query_layers_over_latency"] = (
        sum(m[layer] for layer, _ in QUERY_LAYERS) / statistics.mean(s.duration for s in timed)
    )
    m["trace.latency_p50_s"] = statistics.median(s.duration for s in timed)
    m["trace.setup_s"] = built["setup_s"]
    m["trace.ungrouped_jobs"] = float(sum(1 for j in jobs if j.group is None))
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)
    wl = WORKLOADS[args.workload]

    sys.path.insert(0, ROOT)
    try:
        import bench as repo_bench  # bench._host_probe
        import marginaliasearch_spark  # noqa: F401
        from checks import Oracle, index_problems
        from marginaliasearch_spark.operators.index_build import IndexPaths, read_manifest
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}", file=sys.stderr)
        return 2
    units = metric_units()

    marks = [("start", time.time())]
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    info = {"workload": args.workload, "trace": args.trace, **host_info(args.seed)}
    info["alloc_gbps_before"] = repo_bench._host_probe()["alloc_stream_gbps"]

    docs_dir = os.path.join(WORK, "data")
    docs_path, toks = write_documents(docs_dir, N_DOCS, args.seed)
    text_bytes = sum(len(" ".join(f"w{j}" for j in row).encode()) for row in toks)
    pool = query_pool(toks, wl["term_class"], POOL_SETS + 1)
    warm, pool = pool[-len(SHAPES)], pool[: -len(SHAPES)]
    # shapes outside the workload's round run once after a traced loop,
    # for the per-shape metrics only
    extra = [q for q in pool[: len(SHAPES)] if q.shape not in wl["shapes"]]
    pool = [q for q in pool if q.shape in wl["shapes"]]

    spark = start_spark(trace)
    marks.append(("spark_start", time.time()))
    info["java"] = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    b = Bench(spark, trace)
    micro, micro_ok = {}, True
    try:
        reader, root, setup_span, build_span = b.setup(docs_dir, warm)
        built = {
            "root": root, "setup_s": setup_span.duration, "build_span": build_span,
            "postings_bytes": float(read_manifest(IndexPaths(root))[0]["postings_bytes"]),
        }
        marks.append(("setup", time.time()))
        loop = b.serve(reader, pool, len(wl["shapes"]), wl["clients"], args.seconds)
        marks.append(("timed_loop", time.time()))
        if trace:
            for q in extra:
                b.query(reader, q, "extra")
            from microbench import measure, sample_postings

            spark.sparkContext.setJobGroup("microbench", "microbench")
            micro, micro_ok = measure(sample_postings(spark, root))
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        peak_kb = vm_hwm_kb(jvm_pid) + vm_hwm_kb("self")
    finally:
        stop_spark(spark)
    marks.append(("trace_extras_and_stop", time.time()))

    # correctness, outside every timed region
    attempted, failed = 0, 0
    problems, built["blocks"] = index_problems(root, N_DOCS)
    attempted += 1
    failed += bool(problems)
    for p in problems:
        print(f"perfbench: index {root}: {p}", file=sys.stderr)
    index_bytes = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
    )
    oracle = Oracle(docs_path, K)
    for phase, q, rows, *_ in b.executions:
        attempted += 1
        if not oracle.matches(q, rows):
            failed += 1
            print(f"perfbench: {phase} query {q.text!r} differs from the oracle",
                  file=sys.stderr)
    attempted += len(b.errors) + (1 if trace else 0)
    failed += len(b.errors) + (0 if micro_ok else 1)
    for err in b.errors:
        print(err, file=sys.stderr)

    marks.append(("checks", time.time()))
    timed = [e for e in b.executions if e[0] == "timed"]
    lat = [e[4] - e[3] for e in timed]
    if not lat:
        print("perfbench: no timed query completed", file=sys.stderr)
        return 1
    if trace:
        metrics = per_layer(b, loop, built, micro)
    else:
        metrics = {
            "setup_s": built["setup_s"],
            "index_bytes_per_input_byte": index_bytes / text_bytes,
            "latency_p50_s": statistics.median(lat),
            # Little's law for a closed loop with no think time
            "qps": wl["clients"] / statistics.mean(lat),
            "peak_rss_mb": peak_kb / 1024.0,
        }
    info.update(
        alloc_gbps_after=repo_bench._host_probe()["alloc_stream_gbps"],
        queries_timed=len(timed),
        latencies=[(e[1].shape, round(e[4] - e[3], 3)) for e in timed],
        build_s=round(build_span.duration, 3),
        phase_s={b: round(t1 - t0, 2) for (_, t0), (b, t1) in zip(marks, marks[1:])},
    )
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
