"""Oracle-checked benchmark of the sfa_spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload classify-sf0.1 --seed 42 --seconds 5 --trace 0

One run: generate the seeded inputs, compute the expected output
fingerprints with the DuckDB oracle, then start a fresh worker process
(perfbench/worker.py) that sets up Spark on local[<cores>], runs one cold
pass and then warm passes of the workload for ``--seconds`` or, with
``--trace 1``, the per-layer sweep under Spark's event log. Every
operation's output is fingerprinted inside its timed action and compared
with the oracle. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the exit code is 0
only when every operation ran and matched.

Scratch space (inputs, Spark temp and local dirs, warehouse, event log)
lives under ``.perfbench/`` in the repository root and is removed after
the run; full reports stay in ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
RUN_LIMIT_S = 170  # the whole run must end within 180 s
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import fingerprint  # noqa: E402
from workloads import DEFAULT_SEED, INDEX_BUILD, WORKLOADS, oracle_names  # noqa: E402

BASE = ("self_s", "driver_s", "jobs", "tasks", "task_cpu_s", "deser_s", "shuffle_mb", "spill_mb")
GC = ("gc_s",)
# Measures reported per layer: BASE for all; python_s where Spark reports
# Python time; gc_s where the JVM collects during the layer in every
# traced run at sf0.1 (elsewhere it is 0 or only now and then non-zero,
# and a time that reads 0 on every run is no measurement). Every measure of
# every layer is kept in the run's report file (``layer_measures``), and
# trace.gc_s sums gc_s over all layers.
LAYERS = {
    "session": BASE,
    "sources": BASE,
    "operators.window": BASE,
    "operators.words": BASE,
    "operators.bags": BASE,
    "operators.tfidf": BASE,
    "operators.knn": BASE + ("python_s",),
    "ml": BASE + GC + ("python_s",),
    "functions": BASE + ("python_s",),
    "plans.index": BASE + ("python_s", "rows_read_per_result", "bytes_written_mb"),
    "operators.similarity": BASE,
    "operators.dedup": BASE + GC,
    "streaming.sinks": BASE + ("batches", "batch_s", "bytes_written_per_input_byte"),
}
E2E_UNITS = {"setup_s": "s", "cold_pass_s": "s", "cold_pass_cpu_s": "s"}


def layer_metric_names() -> list[str]:
    return [f"{layer}.{m}" for layer, ms in LAYERS.items() for m in ms] + [
        "trace.cold_pass_s",
        "trace.gc_s",
    ]


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(code)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _stamp() -> dict:
    model = ""
    try:
        with open("/proc/cpuinfo") as f:
            model = next(
                (l.split(":", 1)[1].strip() for l in f if l.startswith("model name")), ""
            )
    except OSError:
        pass
    return {
        "cores": _cores(),
        "cpu_model": model,
        "python": platform.python_version(),
        "loadavg_before": list(os.getloadavg()),
        "cpu_ticks_before": _cpu_jiffies(),
    }


def _cpu_jiffies() -> dict:
    """Box-wide CPU time split from /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return {"busy": sum(v[:3]) + sum(v[5:7]), "idle": v[3] + v[4], "steal": v[7]}


def _factor_ops(factor: int) -> list[str]:
    """Oracle-checked operations of every workload at this input factor:
    they share one generated dataset, so one oracle pass serves all."""
    return sorted(
        {op for w in WORKLOADS.values() if w.factor == factor for op in oracle_names(w)}
    )


def oracle_file(seed: int, factor: int, sqls: dict[str, str]) -> str:
    """File name of the expected fingerprints for ``seed``: it carries a
    hash of the oracle SQL, the generator and the fingerprint code, so a
    change to any of them never reuses stale expectations."""
    h = hashlib.sha256(f"{seed}:{factor}".encode())
    for name in ("datagen.py", "fingerprint.py", os.path.join("profile", "sf0.1.json")):
        with open(os.path.join(HERE, name), "rb") as f:
            h.update(f.read())
    for op in sorted(sqls):
        h.update(f"{op}\0{sqls[op]}\0".encode())
    return f"seed-{seed}-x{factor}-{h.hexdigest()[:16]}.json"


def compute_expected(data_dir: str, seed: int, factor: int) -> tuple[str, dict]:
    import __spark_entry__ as E

    all_sqls = E.oracle_sql()
    ops = _factor_ops(factor)
    missing = [op for op in ops if op not in all_sqls]
    if missing:
        _fail(f"no oracle for {missing}")
    sqls = {op: all_sqls[op] for op in ops}
    name = oracle_file(seed, factor, sqls)
    for d in (os.path.join(HERE, "expected"), os.path.join(STATE, "oracle-cache")):
        if os.path.isfile(os.path.join(d, name)):
            with open(os.path.join(d, name)) as f:
                return name, json.load(f)
    return name, fingerprint.oracle_fingerprints(data_dir, sqls, _cores())


def _expected(args, wl, data_dir: str) -> dict:
    """``{op: {"fingerprint": [rows, lo, hi], "columns": [...]}}`` from the
    DuckDB oracle: recorded in perfbench/expected/ for the default seed,
    cached per seed under .perfbench/oracle-cache/, or computed here."""
    name, got = compute_expected(data_dir, args.seed, wl.factor)
    cache = os.path.join(STATE, "oracle-cache")
    os.makedirs(cache, exist_ok=True)
    with open(os.path.join(cache, name), "w") as f:
        json.dump(got, f)
    return {op: got[op] for op in oracle_names(wl)}


def _spawn_worker(cfg: dict, scratch: str, deadline: float) -> None:
    env = dict(os.environ)
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "local")
    for d in (tmp, local, cfg["eventlog_dir"]):
        os.makedirs(d, exist_ok=True)
    env.update(
        {
            "PYTHONPATH": os.pathsep.join(
                [ROOT] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
            ),
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": local,
            "SPARK_GRAFT_CPUS": str(_cores()),
            # no hsperfdata files in /tmp: the run writes only in its scratch
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    cfg_path = os.path.join(scratch, "worker.json")
    cfg["spawn_monotonic"] = time.monotonic()  # setup_s starts here
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
        cwd=scratch,
        env=env,
        stdout=sys.stderr,
        start_new_session=True,
    )
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        # the JVM and Python daemon workers share the worker's session
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        _wait_group_gone(proc.pid)
    if rc is None:
        _fail("worker exceeded the run's time limit", 1)
    if rc != 0:
        _fail(f"worker exited with code {rc}", 1)


def _wait_group_gone(pgid: int, timeout: float = 30.0) -> None:
    """Wait until no process of group ``pgid`` is left (the JVM is not
    this process's child, so ``wait`` cannot reap it)."""
    end = time.monotonic() + timeout
    while time.monotonic() < end:
        alive = False
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                alive = True
                break
        if not alive:
            return
        time.sleep(0.1)


def _check(wl, passes: list[dict], expected: dict) -> list[dict]:
    """Mark each operation record ok/wrong; return the failures."""
    failures = []
    for p in passes:
        for rec in p["ops"]:
            op = rec["op"]
            if "error" in rec:
                why = rec["error"]
            elif op == INDEX_BUILD:
                why = None if rec.get("bytes_written", 0) > 0 else "empty index"
            elif expected[op]["columns"] != rec["columns"]:
                why = f"columns {rec['columns']} != oracle {expected[op]['columns']}"
            elif rec["fingerprint"] != list(expected[op]["fingerprint"]):
                why = (
                    f"fingerprint {rec['fingerprint']}"
                    f" != oracle {list(expected[op]['fingerprint'])}"
                )
            else:
                why = None
            rec["ok"] = why is None
            if why:
                failures.append({"op": op, "why": why})
    return failures


def _layer_measures(result: dict) -> tuple[dict, dict]:
    """Every measure of every layer, and of every operation of the cold
    pass, from the traced run's event log."""
    log = eventlog.parse(eventlog.log_files(result["eventlog_dir"]))
    ops = {}
    for rec in result["passes"][0]["ops"]:
        m = eventlog.window_measures(log, [(rec["t0_ms"], rec["t1_ms"])], rec["seconds"])
        del m["batch_ms"]
        ops[rec["op"]] = m
    s = result["session"]
    steps = [{"layer": "session", "seconds": (s["t1_ms"] - s["t0_ms"]) / 1000, **s}]
    steps += result["sweep"]
    out = {}
    for layer in LAYERS:
        mine = [st for st in steps if st["layer"] == layer]
        m = eventlog.window_measures(
            log, [(st["t0_ms"], st["t1_ms"]) for st in mine], sum(st["seconds"] for st in mine)
        )
        e = {k: v for st in mine for k, v in st.items()}
        if "knn_window" in e:
            knn = eventlog.window_measures(log, [tuple(e["knn_window"])], 0.0)
            m["rows_read_per_result"] = knn["records_read"] / max(1, e["knn_rows"])
        m["bytes_written_mb"] = e.get("bytes_written", 0) / eventlog.MB
        m["batches"] = len(m["batch_ms"])
        m["batch_s"] = statistics.median(m["batch_ms"]) / 1000 if m["batch_ms"] else 0.0
        m["bytes_written_per_input_byte"] = e.get("bytes_written", 0) / max(
            1, e.get("input_bytes", 0)
        )
        del m["batch_ms"]
        out[layer] = m
    return out, ops


def code_hash() -> str:
    """Hash of the engine's and the benchmark's sources and the input
    profile: results of different code are never compared."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py"), os.path.join(HERE, "profile", "sf0.1.json")]
    for base in (os.path.join(ROOT, "sfa_spark"), HERE):
        for d, dirs, names in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("__pycache__", "tests"))
            files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".py")]
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _untraced_cold_pass_s(workload: str, seed: int, code: str) -> tuple[float | None, str]:
    """Untraced ``cold_pass_s`` to set the tracing overhead against: that
    of the untraced run of this workload and seed on the same code, if
    this checkout holds one, else the committed baseline's median."""
    path = os.path.join(STATE, "results", f"{workload}-seed{seed}-trace0.json")
    if os.path.isfile(path):
        with open(path) as f:
            r = json.load(f)
        if r.get("code") == code:
            return r["metrics"]["cold_pass_s"], f"untraced run, seed {seed}, same code"
    base = os.path.join(HERE, "baseline.json")
    if os.path.isfile(base):
        with open(base) as f:
            b = json.load(f)
        v = b.get("workloads", {}).get(workload, {}).get("cold_pass_s", {}).get("median")
        if v is not None:
            return v, "perfbench/baseline.json"
    return None, "none"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    start = time.monotonic()
    deadline = start + RUN_LIMIT_S

    for need in ("__spark_entry__.py", os.path.join("sfa_spark", "__init__.py")):
        if not os.path.isfile(os.path.join(ROOT, need)):
            _fail(f"the engine is missing: no {need} in {ROOT}")
    sys.path.insert(0, ROOT)
    wl = WORKLOADS[args.workload]
    code = code_hash()
    stamp = _stamp()
    scratch = os.path.join(STATE, f"run-{os.getpid()}-{int(time.time())}")
    data_dir = os.path.join(scratch, "data")
    try:
        import datagen

        inputs = datagen.generate(data_dir, args.seed, wl.factor)
        expected = _expected(args, wl, data_dir)
        oracle_s = time.monotonic() - start
        cfg = {
            "workload": wl.name,
            "data_dir": data_dir,
            "scratch": scratch,
            "seconds": args.seconds,
            "trace": bool(args.trace),
            "eventlog_dir": os.path.join(scratch, "eventlog"),
            "out": os.path.join(scratch, "result.json"),
        }
        _spawn_worker(cfg, scratch, deadline)
        with open(cfg["out"]) as f:
            result = json.load(f)
        result["eventlog_dir"] = cfg["eventlog_dir"]
        passes = result["passes"]
        failures = _check(wl, passes, expected)
        failures += [
            {"op": f"sweep:{st['layer']}", "why": st["error"]}
            for st in result.get("sweep", [])
            if "error" in st
        ]
        warm = passes[1:]
        metrics = {
            "setup_s": result["setup_s"],
            "cold_pass_s": passes[0]["seconds"],
            "cold_pass_cpu_s": passes[0]["cpu_s"],
        }
        # the warm pass is reported, not bounded: one pass is too short to
        # average out hypervisor CPU steal (see README)
        warm_median = {
            k: statistics.median(p[k] for p in warm) if warm else None
            for k in ("seconds", "cpu_s")
        }
        rss = result["peak_rss_kb"]
        report = {
            "workload": wl.name,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "code": code,
            "stamp": {
                **stamp,
                "spark": result["spark_version"],
                "loadavg_after": list(os.getloadavg()),
                "cpu_s_during": {
                    k: (v - stamp["cpu_ticks_before"][k]) / os.sysconf("SC_CLK_TCK")
                    for k, v in _cpu_jiffies().items()
                },
            },
            "inputs": inputs,
            "oracle_and_datagen_s": oracle_s,
            "peak_rss_mb": (rss["python"] + rss["jvm"]) / 1024,
            "pass_s": warm_median["seconds"],
            "pass_cpu_s": warm_median["cpu_s"],
            "warm_passes": len(warm),
            "pass_seconds": [p["seconds"] for p in passes],
            "pass_cpu_seconds": [p["cpu_s"] for p in passes],
            "op_seconds": {
                op: [r["seconds"] for p in passes for r in p["ops"] if r["op"] == op]
                for op in wl.ops
            },
            "metrics": metrics,
            "failures": failures,
        }
        if args.trace:
            measures, report["cold_op_measures"] = _layer_measures(result)
            layers = {f"{ly}.{k}": measures[ly][k] for ly, ks in LAYERS.items() for k in ks}
            cold = metrics["cold_pass_s"]
            base, source = _untraced_cold_pass_s(wl.name, args.seed, code)
            layers["trace.cold_pass_s"] = cold
            layers["trace.gc_s"] = sum(m["gc_s"] for m in measures.values())
            report["tracing_overhead"] = {
                "traced_cold_pass_s": cold,
                "untraced_cold_pass_s": base,
                "untraced_source": source,
                "overhead_s": None if base is None else cold - base,
            }
            report["layers"] = layers
            report["layer_measures"] = measures
        res_dir = os.path.join(STATE, "results")
        os.makedirs(res_dir, exist_ok=True)
        with open(
            os.path.join(res_dir, f"{wl.name}-seed{args.seed}-trace{args.trace}.json"), "w"
        ) as f:
            json.dump(report, f, indent=1)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    _print_report(report)
    attempted = sum(len(p["ops"]) for p in passes) + len(result.get("sweep", []))
    if args.trace:
        shown = {k: {"value": v, "unit": _layer_unit(k)} for k, v in report["layers"].items()}
    else:
        shown = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}
    print(
        json.dumps(
            {
                "correct": not failures,
                "attempted": attempted,
                "failed": len(failures),
                "metrics": shown,
            }
        )
    )
    return 0 if not failures else 1


def _layer_unit(name: str) -> str:
    measure = name.rsplit(".", 1)[1]
    if measure.endswith("_s"):
        return "s"
    if measure.endswith("_mb"):
        return "MB"
    if measure in ("jobs", "tasks", "batches"):
        return "count"
    return "ratio"


def _print_report(r: dict) -> None:
    st = r["stamp"]
    print(
        f"# {r['workload']} seed={r['seed']} cores={st['cores']} cpu={st['cpu_model']!r}"
        f" spark={st['spark']} python={st['python']}"
        f" load={st['loadavg_before'][0]:.2f}->{st['loadavg_after'][0]:.2f}"
    )
    print("# inputs: " + ", ".join(f"{k}={v}" for k, v in r["inputs"].items()))
    for k, v in r["metrics"].items():
        print(f"{k:14s} {v:10.3f}")
    print(f"# peak RSS, driver JVM + Python: {r['peak_rss_mb']:.0f} MB")
    if r["pass_s"] is not None:
        print(f"# median warm pass: {r['pass_s']:.3f} s wall, {r['pass_cpu_s']:.3f} s CPU")
    print("# per-operation seconds, cold pass then warm passes")
    for op, secs in r["op_seconds"].items():
        print(f"  {op:24s} " + " ".join(f"{x:7.3f}" for x in secs))
    if "tracing_overhead" in r:
        t = r["tracing_overhead"]
        print(
            f"# tracing overhead: traced cold_pass_s {t['traced_cold_pass_s']:.3f} - untraced"
            f" {t['untraced_cold_pass_s']} ({t['untraced_source']}) = {t['overhead_s']}"
        )
    for f in r["failures"]:
        print(f"FAILED {f['op']}: {f['why']}")


if __name__ == "__main__":
    raise SystemExit(main())
