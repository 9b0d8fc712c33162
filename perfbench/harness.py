"""Shared measurement plumbing: session, host weather, spans, and the
ledger read back from Spark's own status stores.

Everything a run writes goes under its own work directory inside the
checkout (``.bench_work/run-<pid>/``): Spark local dirs, the warehouse,
the JVM temp dir, Derby, DuckDB spill, the generated inputs and the
outputs.
"""

from __future__ import annotations

import contextlib
import math
import os
import re
import time

# The JVM log settings the benchmark runs with: quiet console, and the
# whole-stage-codegen fallback warnings (plus the compiler errors that
# precede them) routed to a file so they can be counted.
_LOG4J2 = """\
rootLogger.level = error
rootLogger.appenderRef.stderr.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n%ex
appender.codegen.type = File
appender.codegen.name = codegen
appender.codegen.fileName = {path}
appender.codegen.layout.type = PatternLayout
appender.codegen.layout.pattern = %p %c{1}: %m%n
logger.wsc.name = org.apache.spark.sql.execution.WholeStageCodegenExec
logger.wsc.level = warn
logger.wsc.additivity = false
logger.wsc.appenderRef.codegen.ref = codegen
logger.cg.name = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
logger.cg.level = warn
logger.cg.additivity = false
logger.cg.appenderRef.codegen.ref = codegen
"""

CODEGEN_FALLBACK = "Whole-stage codegen disabled"


def work_dir(root: str) -> str:
    """A work dir of this process's own under ``root``; also points
    every temp-file user at it. The caller removes it when done.

    Must run before the JVM starts: the launcher and the JVM inherit
    TMPDIR / JAVA_TOOL_OPTIONS from this process.
    """
    work = os.path.join(os.path.abspath(root), f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # No hsperfdata files outside the work dir from the launcher or the
    # driver JVM.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
    )
    return work


def start_spark(work: str, app: str = "perfbench"):
    """The program's own session factory, with benchmark-only settings:
    paths inside the work dir, a bounded driver heap, no console
    progress bars, and status-store retention large enough that no job,
    stage or SQL execution of a run is evicted before it is read.

    The heap is committed and touched when the JVM starts (``-Xms`` =
    the 1 GiB ``-Xmx``, ``AlwaysPreTouch``): left to grow, its resident
    size follows G1's sizing decisions, which follow the host's speed,
    and peak RSS moved by 10-20% between runs of the same code. Pinned,
    peak RSS moves with what else the driver holds: metaspace and JIT
    code, native buffers, and the Python process."""
    from tensei_agent_spark.session import get_spark

    log_conf = os.path.join(work, "log4j2.properties")
    codegen_log = os.path.join(work, "codegen.log")
    with open(log_conf, "w") as fh:
        fh.write(_LOG4J2.replace("{path}", codegen_log))
    keep = "1000000"
    spark = get_spark(
        app,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Dlog4j2.configurationFile=file:{log_conf} "
                f"-Dderby.system.home={os.path.join(work, 'derby')} "
                "-Xms1g -XX:+AlwaysPreTouch"
            ),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": keep,
            "spark.ui.retainedStages": keep,
            "spark.ui.retainedTasks": keep,
            "spark.sql.ui.retainedExecutions": keep,
            # Untruncated scan locations in plan-node descriptions, so
            # scans can be matched to their source files.
            "spark.sql.maxMetadataStringLength": "100000",
        },
    )
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError, ValueError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort, never leave it running
            proc.kill()
            proc.wait(timeout=30)


def codegen_fallbacks(work: str) -> int:
    path = os.path.join(work, "codegen.log")
    if not os.path.exists(path):
        return 0
    with open(path, errors="replace") as fh:
        return sum(CODEGEN_FALLBACK in line for line in fh)


class Outcomes:
    """Operations attempted and failed by a workload, with the reasons."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def fail(self, ops: list[str], message: str) -> None:
        self.failed += len(ops)
        self.failures.append(f"{','.join(ops)}: {message}"[:300])


# --------------------------------------------------------------------------
# Host weather (metadata beside the metrics, never a metric itself)
# --------------------------------------------------------------------------


def _cpu_ticks() -> list[int] | None:
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_pct(before, after):
    """(steal%, busy%) over the bracket — the busy-relative formula of
    ``bench.py:_steal_pct``: steal / busy approximates the share of
    demanded cycles the hypervisor withheld."""
    if before is None or after is None:
        return None, None
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    if total <= 0:
        return None, None
    busy = total - delta[3] - delta[4]
    if busy <= 0:
        return None, round(100.0 * busy / total, 1)
    return round(100.0 * delta[7] / busy, 1), round(100.0 * busy / total, 1)


class Weather:
    """Steal %, busy % and the 1-min loadavg at both ends of a bracket."""

    def __init__(self):
        self.load_before = round(os.getloadavg()[0], 2)
        self.ticks = _cpu_ticks()

    def stamp(self) -> dict:
        steal, busy = steal_pct(self.ticks, _cpu_ticks())
        return {
            "cpu_steal_pct": steal,
            "cpu_busy_pct": busy,
            "loadavg": [self.load_before, round(os.getloadavg()[0], 2)],
        }


# --------------------------------------------------------------------------
# Memory
# --------------------------------------------------------------------------


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _pids(spark) -> tuple:
    """The driver JVM and this Python process."""
    return spark.sparkContext._jvm.ProcessHandle.current().pid(), "self"


def reset_peak_rss(spark) -> None:
    """Restart VmHWM of both processes from their current RSS, so the
    peak read later covers what ran since, not the set-up (input
    generation and the expected outputs run in this process)."""
    for pid in _pids(spark):
        with contextlib.suppress(OSError):
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus this Python process, in MiB."""
    return sum(_vm_hwm_kb(pid) for pid in _pids(spark)) / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            with contextlib.suppress(OSError):
                total += os.path.getsize(os.path.join(root, f))
    return total


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


# --------------------------------------------------------------------------
# Spans: one Spark job group each
# --------------------------------------------------------------------------


class Tracer:
    """Records spans around calls into the program's layers.

    Each span sets its own Spark job group for its duration, so the
    Spark work it triggered can be read back from the status store.
    Spans nest; a job belongs to the innermost span open when it ran.
    Everything stays in memory until the run ends.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"span-{len(self.spans)}",
        }
        outer_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", outer_group)

    def wrap(self, fn, name_of):
        """``fn`` wrapped in a span named ``name_of(*args, **kwargs)``."""

        def wrapped(*args, **kwargs):
            with self.span(name_of(*args, **kwargs)):
                return fn(*args, **kwargs)

        return wrapped

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


@contextlib.contextmanager
def patched(*patches):
    """Temporarily replace attributes: ``(owner, attr, new)`` triples,
    where ``owner`` is a module, class or dict."""
    saved = []
    try:
        for owner, attr, new in patches:
            if isinstance(owner, dict):
                saved.append((owner, attr, owner[attr]))
                owner[attr] = new
            else:
                saved.append((owner, attr, getattr(owner, attr)))
                setattr(owner, attr, new)
        yield
    finally:
        for owner, attr, old in reversed(saved):
            if isinstance(owner, dict):
                owner[attr] = old
            else:
                setattr(owner, attr, old)


# --------------------------------------------------------------------------
# The ledger: jobs, stages and plan-node metrics from the status stores
# --------------------------------------------------------------------------


def _opt(o):
    """scala.Option → value or None."""
    return o.get() if o.isDefined() else None


def _ms(date) -> float | None:
    return None if date is None else date.getTime() / 1000.0


class Ledger:
    """A snapshot of the application's status stores.

    ``spark.ui.enabled=false`` still keeps both stores: the core store
    (jobs, stages, task-metric totals) and the SQL store (executions and
    plan graphs with their accumulated metric strings). Reading them
    runs no Spark job.
    """

    def __init__(self, spark, groups):
        """Read the jobs of the given job groups (a group ``g`` also
        covers ``g/<anything>``), their stages, and the SQL executions
        that ran them."""
        groups = list(groups)
        store = spark.sparkContext._jsc.sc().statusStore()
        self.jobs: dict[int, dict] = {}
        for j in _iter_seq(store.jobsList(None)):
            group = _opt(j.jobGroup())
            if not _in_groups(group, groups):
                continue
            self.jobs[j.jobId()] = {
                "group": group,
                "start": _ms(_opt(j.submissionTime())),
                "end": _ms(_opt(j.completionTime())),
                "stages": [int(s) for s in _iter_seq(j.stageIds())],
            }
        wanted = {s for j in self.jobs.values() for s in j["stages"]}
        gateway = spark.sparkContext._gateway
        no_quantiles = gateway.new_array(gateway.jvm.double, 0)
        all_tasks = gateway.jvm.java.util.ArrayList()
        stages = store.stageList(None, False, False, no_quantiles, all_tasks)
        self.stages: dict[int, dict] = {}
        for s in _iter_seq(stages):
            sid = s.stageId()
            if sid not in wanted or sid in self.stages:
                continue
            if str(s.status()) in ("SKIPPED", "PENDING"):
                continue
            self.stages[sid] = _stage_row(s)
        sql = spark._jsparkSession.sharedState().statusStore()
        self.executions: list[dict] = []
        for e in _iter_seq(sql.executionsList()):
            job_ids = [int(k) for k in _iter_seq(e.jobs().keys())]
            if not any(j in self.jobs for j in job_ids):
                continue
            eid = e.executionId()
            values = {}
            for kv in _iter_seq(sql.executionMetrics(eid)):
                values[int(kv._1())] = str(kv._2())
            graph = sql.planGraph(eid)
            nodes = [_node_row(n, values) for n in _iter_seq(graph.allNodes())]
            _attach_feeds(nodes, graph)
            self.executions.append({"id": eid, "jobs": job_ids, "nodes": nodes})

    def job_ids(self, groups) -> list[int]:
        groups = list(groups)
        return sorted(j for j, r in self.jobs.items() if _in_groups(r["group"], groups))

    def spark_metrics(self, job_ids, wall_s: float) -> dict:
        """Scheduler and execution totals over the given jobs."""
        stage_ids = set()
        for j in job_ids:
            stage_ids.update(self.jobs[j]["stages"])
        stages = [self.stages[s] for s in stage_ids if s in self.stages]
        out = {
            "spark.jobs": len(job_ids),
            "spark.stages": len(stages),
            "spark.tasks": sum(s["tasks"] for s in stages),
            "spark.driver_gap_s": max(0.0, wall_s - _covered(
                [(self.jobs[j]["start"], self.jobs[j]["end"]) for j in job_ids]
            )),
        }
        for key in (
            "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
            "shuffle_read_bytes", "spill_bytes", "peak_exec_mem_bytes",
        ):
            out[f"spark.{key}"] = sum(s[key] for s in stages)
        return out

    def nodes_for(self, job_ids) -> list[dict]:
        """Plan nodes of every SQL execution that ran any of these jobs."""
        wanted = set(job_ids)
        return [
            n
            for e in self.executions
            if wanted.intersection(e["jobs"])
            for n in e["nodes"]
        ]


def _in_groups(group, groups) -> bool:
    return group is not None and any(
        group == g or group.startswith(g + "/") for g in groups
    )


def _iter_seq(seq):
    """Iterate a Scala collection or java.util collection from py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _stage_row(s) -> dict:
    return {
        "tasks": s.numTasks(),
        "executor_run_s": s.executorRunTime() / 1000.0,
        "executor_cpu_s": s.executorCpuTime() / 1e9,
        "gc_s": s.jvmGcTime() / 1000.0,
        "shuffle_write_bytes": s.shuffleWriteBytes(),
        "shuffle_read_bytes": s.shuffleReadBytes(),
        "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
        "peak_exec_mem_bytes": s.peakExecutionMemory(),
    }


def _node_row(node, values: dict) -> dict:
    metrics = {}
    for m in _iter_seq(node.metrics()):
        raw = values.get(m.accumulatorId())
        if raw is not None:
            metrics[m.name()] = parse_metric(m.metricType(), raw)
    row = {"id": node.id(), "name": node.name(), "desc": node.desc(), "metrics": metrics}
    if node.getClass().getSimpleName() == "SparkPlanGraphCluster":
        # A whole-stage-codegen cluster: remember what it fuses.
        row["inner"] = {n.id() for n in _iter_seq(node.nodes())}
    return row


def _attach_feeds(nodes: list[dict], graph) -> None:
    """For each node outside any codegen cluster, the clusters its output
    feeds (``feeds``): a row-based scan is timed by the codegen stage
    that pulls from it."""
    cluster_of = {}
    for n in nodes:
        for inner in n.get("inner", ()):
            cluster_of[inner] = n
    by_id = {n["id"]: n for n in nodes}
    for e in _iter_seq(graph.edges()):
        src, dst = by_id.get(e.fromId()), cluster_of.get(e.toId())
        if src is not None and dst is not None and src["id"] not in cluster_of:
            src.setdefault("feeds", []).append(dst)


def _covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    spans = sorted((a, b) for a, b in intervals if a is not None and b is not None)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
}
_NUM = re.compile(r"(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(metric_type: str, raw: str) -> float:
    """A SQL metric as stored (``"12.3 MiB"``, ``"1.2 s"``, ``"1,234"``,
    or a multi-task ``"total (min, med, max ...)\\n<total> (...)"``) →
    bytes, seconds or a count. Formatted values carry three significant
    digits, so sizes and times are approximate."""
    text = raw.split("\n", 1)[1] if "\n" in raw else raw
    m = _NUM.search(text)
    if m is None:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if metric_type in ("size", "timing", "nsTiming", "average") and unit in _UNITS:
        return value * _UNITS[unit]
    return value


def plan_metrics(nodes) -> dict:
    """Per-operator-kind totals over plan nodes (see README for names)."""
    out = {
        "sql.codegen_s": 0.0, "sql.scan_s": 0.0, "sql.exchange_bytes": 0.0,
        "sql.broadcast_build_s": 0.0, "sql.broadcast_rows": 0.0,
        "sql.agg_spill_bytes": 0.0, "sql.python_bytes": 0.0,
    }
    for n in nodes:
        name, m = n["name"], n["metrics"]
        if name.startswith("WholeStageCodegen"):
            out["sql.codegen_s"] += m.get("duration", 0.0)
        if "scan time" in m:
            out["sql.scan_s"] += m["scan time"]
        if name == "Exchange":
            out["sql.exchange_bytes"] += m.get("shuffle bytes written", 0.0)
        if name == "BroadcastExchange":
            out["sql.broadcast_build_s"] += m.get("time to build", 0.0)
            out["sql.broadcast_rows"] += m.get("number of output rows", 0.0)
        if "Aggregate" in name:
            out["sql.agg_spill_bytes"] += m.get("spill size", 0.0)
        out["sql.python_bytes"] += m.get("data sent to Python workers", 0.0)
        out["sql.python_bytes"] += m.get("data returned from Python workers", 0.0)
    return out
