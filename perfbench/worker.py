"""One measured run, in a fresh process started by run.py.

Reads its settings from the JSON file named on the command line, starts
the Spark session and runs the workload closed-loop from one client: a
cold pass, then warm passes until the run's seconds are used or, in a
traced run, the per-layer sweep. Writes raw timings and fingerprints to
the settings' ``out`` file; run.py checks and reports them.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from layers import dir_bytes, epoch_ms  # noqa: E402


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _group_cpu_s() -> float:
    """CPU seconds used so far by this run's processes (this worker, the
    JVM and the Python UDF workers share its process group), including
    their exited children."""
    pgid = os.getpgid(0)
    ticks = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid:
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def _reset_process_state(spark) -> None:
    """Drop what a pass leaves behind in the process: cached tables, the
    index registry, and the memory-sink views of streaming queries."""
    import sfa_spark.queries_index as QI

    spark.catalog.clearCache()
    QI._INDEX_CACHE.clear()
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)


def _run_op(spark, cfg, op, queries, tag):
    """Time one operation from the query call through the fingerprint
    action; return its record."""
    import sfa_spark.queries_index as QI

    from fingerprint import spark_fingerprint
    from workloads import INDEX_BUILD

    data_dir = cfg["data_dir"]
    spark.catalog.clearCache()
    spark.sparkContext.setJobGroup(tag, tag)
    rec = {"op": op, "t0_ms": epoch_ms()}
    t0 = time.perf_counter()
    try:
        if op == INDEX_BUILD:
            # the engine's own build, which the q_index_knn after it probes
            idx = QI._index(spark, data_dir)
            rec["seconds"] = time.perf_counter() - t0
            rec["bytes_written"] = dir_bytes(idx.path)
        else:
            df = queries[op](spark, data_dir)
            rec["fingerprint"] = list(spark_fingerprint(df))
            rec["seconds"] = time.perf_counter() - t0
            rec["columns"] = sorted(df.columns)
    except Exception as exc:  # noqa: BLE001 — a failed operation is reported, the run goes on
        rec["seconds"] = time.perf_counter() - t0
        rec["error"] = f"{type(exc).__name__}: {str(exc)[:500]}"
        traceback.print_exc(file=sys.stderr)
    rec["t1_ms"] = epoch_ms()
    return rec


def _run_pass(spark, cfg, queries, label):
    from workloads import WORKLOADS

    wl = WORKLOADS[cfg["workload"]]
    _reset_process_state(spark)
    cpu0, t0 = _group_cpu_s(), time.perf_counter()
    ops = [
        _run_op(spark, cfg, op, queries, f"{wl.name}:{op}:{label}") for op in wl.ops
    ]
    return {
        "seconds": time.perf_counter() - t0,
        "cpu_s": _group_cpu_s() - cpu0,
        "ops": ops,
    }


def _sweep(spark, cfg):
    from layers import steps

    out = []
    for layer, call, prepare, run in steps(spark, cfg["data_dir"], cfg["scratch"]):
        _reset_process_state(spark)
        sc = spark.sparkContext
        rec = {"layer": layer, "call": call, "t0_ms": epoch_ms()}
        t0 = time.perf_counter()
        try:
            sc.setJobGroup(f"{cfg['workload']}:prep:{layer}", "prepare")
            inputs = prepare()
            sc.setJobGroup(f"{cfg['workload']}:{call}:{layer}", call)
            rec["t0_ms"], t0 = epoch_ms(), time.perf_counter()
            rec.update(run(inputs) or {})
        except Exception as exc:  # noqa: BLE001 — reported as a failed step
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:500]}"
            traceback.print_exc(file=sys.stderr)
        rec["seconds"] = time.perf_counter() - t0
        rec["t1_ms"] = epoch_ms()
        out.append(rec)
    return out


def main(cfg_path: str) -> int:
    with open(cfg_path) as f:
        cfg = json.load(f)
    import __spark_entry__ as E
    from sfa_spark.session import get_spark

    extra = {
        "spark.sql.warehouse.dir": os.path.join(cfg["scratch"], "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if cfg["trace"]:
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + cfg["eventlog_dir"],
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    session_t0 = epoch_ms()
    spark = get_spark(f"perfbench-{cfg['workload']}", extra_conf=extra)
    spark.sparkContext.setJobGroup(f"{cfg['workload']}:get_spark:session", "setup")
    spark.range(1).count()
    setup_s = time.monotonic() - cfg["spawn_monotonic"]
    result = {
        "setup_s": setup_s,
        "session": {"t0_ms": session_t0, "t1_ms": epoch_ms()},
        "spark_version": spark.version,
        "passes": [],
    }
    try:
        queries = E.queries()
        result["passes"].append(_run_pass(spark, cfg, queries, "cold"))
        if cfg["trace"]:
            # the cold pass warms the JVM; the sweep replaces warm passes
            result["sweep"] = _sweep(spark, cfg)
        else:
            warm_t0 = time.perf_counter()
            while True:
                result["passes"].append(_run_pass(spark, cfg, queries, "warm"))
                if time.perf_counter() - warm_t0 >= cfg["seconds"]:
                    break
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        result["peak_rss_kb"] = {
            "python": _vm_hwm_kb("self"),
            "jvm": _vm_hwm_kb(jvm_pid),
        }
    finally:
        spark.stop()
    with open(cfg["out"], "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1]))
