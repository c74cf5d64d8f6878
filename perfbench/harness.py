"""Process set-up, isolation, measurement helpers and result output.

Everything a run writes goes under ``<checkout>/.bench_work/<run id>``
(parquet inputs, the store, the journal, Spark local and temp dirs), and
that directory is removed when the run ends.
"""

from __future__ import annotations

import http.client
import json
import os
import resource
import shutil
import subprocess
import sys
import time
import urllib.parse

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: JVM heap of the benchmark's Spark session.  The engine's own default
#: (24g) is larger than a 15 GB machine; the benchmark's inputs need far
#: less.  The heap is reserved at its full size (no resizing) but not
#: touched ahead, and the young generation has a fixed size, so peak RSS
#: follows the memory the program keeps, not when G1 chose to grow.
JVM_HEAP = "2g"
JVM_YOUNG = "256m"

#: the end-to-end metrics every workload reports: name -> unit
E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "read_qps": "1/s"}

#: seconds this process spent building cached inputs (``cached``) and
#: repeating engine set-up beyond its median (``repeat_setup``); set-up
#: time leaves them out, so it does not depend on cache state
LEFT_OUT_SECONDS = [0.0]

#: the engine set-up (store load, engine, endpoint) is run this many
#: times and its median counted in set-up time
SETUP_REPEATS = 3


class BenchError(Exception):
    """The benchmark cannot run here (missing program, bad arguments)."""


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def isolate(run_id: str) -> str:
    """Create the run's private work dir and point every temp/scratch
    location of Python, the JVM and Spark into it.  Must run before
    pyspark is imported."""
    if not os.path.isfile(os.path.join(ROOT, "database_spark", "__init__.py")):
        raise BenchError(f"no database_spark package under {ROOT}")
    work = os.path.join(ROOT, ".bench_work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (the spark-submit launcher too): no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    os.environ["SPARK_GRAFT_STORE_CACHE"] = os.path.join(work, "store_cache")
    os.environ.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return work


def cached(name: str, build) -> str:
    """A directory of derived inputs kept across runs in this checkout:
    ``<checkout>/.bench_cache/<name>-<source digest>``.  ``build(tmp)``
    fills a fresh dir the first time; it is published by rename, so a
    crashed build never leaves a half-written cache.  The digest covers
    the engine's sources and the generators, so edited code never reads
    a stale store; entries of other digests are kept, so runs of two
    versions of the code in one checkout do not rebuild each other's.
    The build time is added to ``LEFT_OUT_SECONDS``."""
    root = os.path.join(ROOT, ".bench_cache")
    path = os.path.join(root, f"{name}-{commit_id()}")
    if os.path.isdir(path):
        return path
    t = time.perf_counter()
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    try:
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
    LEFT_OUT_SECONDS[0] += time.perf_counter() - t
    return path


def repeat_setup(start, stop, n: int):
    """Run ``start()`` ``n`` times, ``stop``-ping all results but the
    last, which is returned; set-up time counts the median of the ``n``
    times."""
    reps, obj = [], None
    for _ in range(n):
        if obj is not None:
            stop(obj)
        t = time.perf_counter()
        obj = start()
        reps.append(time.perf_counter() - t)
    LEFT_OUT_SECONDS[0] += sum(reps) - median(reps)
    return obj


def setup_seconds(process_age) -> float:
    """Set-up time so far: the process's age less the cache builds and
    the set-up repeats beyond their median."""
    return process_age() - LEFT_OUT_SECONDS[0]


def e2e_metrics(setup_s: float, rss_mb: float, read_qps: float) -> dict:
    values = {"setup_s": setup_s, "peak_rss_mb": rss_mb, "read_qps": read_qps}
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}


def start_endpoint(spark, store_dir: str):
    """Load a saved store, build the engine and start the endpoint."""
    from database_spark.server import SparqlEndpoint
    from database_spark.sparql.engine import SparqlEngine
    from database_spark.store import TripleStore

    return SparqlEndpoint(SparqlEngine(TripleStore.load(spark, store_dir))).start()


def start_spark(work: str):
    from database_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        "perfbench",
        shuffle_partitions=2 * nproc(),
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms{JVM_HEAP} -Xmn{JVM_YOUNG} -Dderby.system.home={tmp}",
            # keep every job/stage of a run in the status store so the
            # traced run can attribute all of them
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
            # the status store the traced run reads lives without the UI
            "spark.ui.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 — already closed
                pass
        if proc is not None:
            try:
                if proc.stdin:
                    proc.stdin.close()
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


class Window:
    """The timed window of a run: the tracer records inside it, and the
    GC time, peak memory and Spark jobs of the window are read on exit.
    ``t1`` may be moved back to the last reply by the caller."""

    def __init__(self, ctx):
        self.ctx = ctx

    def __enter__(self):
        self.gc0 = gc_seconds(self.ctx.spark)
        # status-store times are epoch ms; the window uses perf_counter
        self.epoch_offset_ms = (time.time() - time.perf_counter()) * 1000.0
        if self.ctx.tracer is not None:
            self.ctx.tracer.enabled = True
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.t1 = time.perf_counter()
        if self.ctx.tracer is not None:
            self.ctx.tracer.enabled = False
        self.gc_s = gc_seconds(self.ctx.spark) - self.gc0
        self.rss_mb = peak_rss_mb(self.ctx.spark)
        return False

    def jobs(self) -> list:
        return spark_jobs(self.ctx.spark, self.t0 * 1000.0 + self.epoch_offset_ms)


# ------------------------------------------------------------ statistics
def median(xs) -> float:
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def tail(xs) -> tuple[float, float, int]:
    """Highest percentile with at least 10 samples above it: the value
    with exactly 10 larger samples.  Returns (value, percentile, n);
    with 10 or fewer samples there is no such percentile and the
    maximum is reported with percentile 100."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 10:
        return xs[-1], 100.0, n
    k = n - 11
    return xs[k], 100.0 * (k + 1) / n, n


# ---------------------------------------------------- process resources
def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.ProcessHandle.current().pid())


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the Spark JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (py_kb + _vm_hwm_kb(jvm_pid(spark))) / 1024.0


def gc_seconds(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0


def storage_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _dn, fns in os.walk(path):
        for fn in fns:
            try:
                total += os.path.getsize(os.path.join(dp, fn))
            except OSError:
                pass
    return total


# ----------------------------------------------------------- Spark jobs
class Job:
    __slots__ = ("jid", "group", "submit", "end", "stages", "tasks", "input_bytes",
                 "input_records", "shuffle_bytes", "gc_ms", "run_ms")

    def __init__(self, jid, group, submit, end):
        self.jid = jid
        self.group = group
        self.submit = submit
        self.end = end
        self.stages = 0
        self.tasks = 0
        self.input_bytes = 0
        self.input_records = 0
        self.shuffle_bytes = 0
        self.gc_ms = 0
        self.run_ms = 0


def spark_jobs(spark, since_ms: float) -> list[Job]:
    """Jobs submitted after ``since_ms`` (epoch ms), read from the
    SparkContext's status store, with the counters of the stages each
    job ran (skipped stages count for nothing)."""
    ss = spark.sparkContext._jsc.sc().statusStore()
    stage_rows = ss.stageList(None, False, False, getattr(ss, "stageList$default$4")(), None)
    stages = {}
    for i in range(stage_rows.size()):
        s = stage_rows.apply(i)
        if str(s.status()) == "SKIPPED":
            continue
        sid = int(s.stageId())
        acc = stages.setdefault(sid, [0, 0, 0, 0, 0, 0])
        acc[0] += int(s.numCompleteTasks())
        acc[1] += int(s.inputBytes())
        acc[2] += int(s.inputRecords())
        acc[3] += int(s.shuffleReadBytes()) + int(s.shuffleWriteBytes())
        acc[4] += int(s.jvmGcTime())
        acc[5] += int(s.executorRunTime())
    rows = ss.jobsList(None)
    out = []
    for i in range(rows.size()):
        j = rows.apply(i)
        st = j.submissionTime()
        if not st.isDefined():
            continue
        submit = float(st.get().getTime())
        if submit < since_ms:
            continue
        ct = j.completionTime()
        g = j.jobGroup()
        job = Job(
            int(j.jobId()),
            g.get() if g.isDefined() else None,
            submit,
            float(ct.get().getTime()) if ct.isDefined() else submit,
        )
        sids = j.stageIds()
        for k in range(sids.size()):
            acc = stages.get(int(sids.apply(k)))
            if acc is None:
                continue
            job.stages += 1
            job.tasks += acc[0]
            job.input_bytes += acc[1]
            job.input_records += acc[2]
            job.shuffle_bytes += acc[3]
            job.gc_ms += acc[4]
            job.run_ms += acc[5]
        out.append(job)
    out.sort(key=lambda j: j.submit)
    return out


# ------------------------------------------------------------ HTTP client
class Client:
    """One keep-alive HTTP connection to the endpoint (one per client
    thread)."""

    def __init__(self, url: str, timeout: float = 60.0):
        u = urllib.parse.urlparse(url)
        self.path = u.path
        self.conn = http.client.HTTPConnection(u.hostname, u.port, timeout=timeout)

    def _send(self, method: str, path: str, body, headers) -> tuple[int, bytes, float]:
        t0 = time.perf_counter()
        try:
            self.conn.request(method, path, body=body, headers=headers)
            resp = self.conn.getresponse()
            data = resp.read()
            status = resp.status
        except (http.client.HTTPException, OSError):
            self.conn.close()
            return 0, b"", time.perf_counter() - t0
        return status, data, time.perf_counter() - t0

    def query(self, text: str, accept: str, rid: str = "") -> tuple[int, bytes, float]:
        path = self.path + "?" + urllib.parse.urlencode({"query": text})
        return self._send("GET", path, None, {"Accept": accept, "X-Bench-Rid": rid})

    def update(self, text: str, rid: str = "") -> tuple[int, bytes, float]:
        body = urllib.parse.urlencode({"update": text}).encode()
        return self._send(
            "POST", self.path, body,
            {"Content-Type": "application/x-www-form-urlencoded", "X-Bench-Rid": rid},
        )

    def close(self) -> None:
        self.conn.close()


# ---------------------------------------------------------------- output
def versions(spark) -> dict:
    import pyspark

    java = spark.sparkContext._jvm.System.getProperty("java.version")
    return {"spark": pyspark.__version__, "java": str(java), "python": sys.version.split()[0]}


_DIGEST = []


def commit_id() -> str:
    """Digest of the engine's sources and the data generators: results
    and cached inputs from different code never share an id."""
    if _DIGEST:
        return _DIGEST[0]
    import hashlib

    h = hashlib.sha1()
    files = [os.path.join(ROOT, "__spark_entry__.py"), os.path.join(ROOT, "perfbench", "gen.py")]
    for dp, dn, fns in os.walk(os.path.join(ROOT, "database_spark")):
        dn.sort()
        files += [os.path.join(dp, fn) for fn in fns if fn.endswith(".py")]
    for path in sorted(files):
        with open(path, "rb") as f:
            h.update(os.path.relpath(path, ROOT).encode() + f.read())
    _DIGEST.append("src-" + h.hexdigest()[:12])
    return _DIGEST[0]


def emit(result: dict, meta: dict, out_dir: str) -> None:
    """Print the run record (metadata line, then the result as the last
    line of stdout) and keep a copy under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    name = f"{meta['workload']}-seed{meta['seed']}-trace{meta['trace']}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump({"meta": meta, "result": result}, f, indent=1)
    print(json.dumps({"meta": meta}, separators=(",", ":")))
    print(json.dumps(result, separators=(",", ":")), flush=True)
