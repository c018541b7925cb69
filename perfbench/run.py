#!/usr/bin/env python3
"""Benchmark of the graph engine through its public API.

    python3 perfbench/run.py --workload graph_read --seed 1 --seconds 5 --trace 0

Run from the repository root. The first run builds the engine and the
harness from source with sbt (offline) and generates the data; both are
kept under .bench_build/ and rebuilt when their sources change. One run
starts one JVM with local[N] Spark, N = the CPUs this process may use,
sets the workload up several times, runs its seeded statements in a
closed loop with one client for --seconds, then checks every output
outside the timed window. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones (see perfbench/METRICS.md). The line before it is
a report with the environment, seeds, sample counts and the tail
percentile used.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_data  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

SF = 0.005
SETUPS = 3
HEAP = "2g"
DEADLINE_S = 170
BUILD = ".bench_build"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
MIB = 1048576.0


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def digest_files(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, deadline):
    """Compiles the engine and the harness; returns the runtime classpath."""
    sources = [os.path.join(root, p) for p in ("build.sbt", "project/build.properties")]
    for pat in ("src/main/**/*", "perfbench/build.sbt",
                "perfbench/project/build.properties", "perfbench/src/**/*"):
        sources += [p for p in glob.glob(os.path.join(root, pat), recursive=True)
                    if os.path.isfile(p)]
    stamp = digest_files(sources)
    cp_file = os.path.join(root, BUILD, "classpath.txt")
    stamp_file = os.path.join(root, BUILD, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), stamp
    log("building with sbt")
    tmp = os.path.join(root, BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt, its script and every JVM it starts keep their temporary files in
    # the checkout
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp,
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                                 f"-Djna.tmpdir={tmp}")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx3g")
    out = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                       "export Runtime/fullClasspath"],
                      os.path.join(root, "perfbench"), env, deadline,
                      os.path.join(root, BUILD, "build.log"))
    lines = [ln for ln in out.splitlines() if ln and not ln.startswith("[")]
    if not lines:
        raise RuntimeError("sbt printed no classpath; see .bench_build/build.log")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1], stamp


def run_bounded(cmd, cwd, env, deadline, log_path):
    """Runs cmd in its own process group, logging its output; kills the group
    at the deadline. Returns stdout; raises on failure."""
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                             stderr=logf, stdin=subprocess.DEVNULL,
                             start_new_session=True, text=True)
        try:
            out, _ = p.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise RuntimeError(f"{cmd[0]} did not finish in time; see {log_path}")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    with open(log_path, "a") as logf:
        logf.write(out)
    if p.returncode != 0:
        raise RuntimeError(f"{cmd[0]} exited with {p.returncode}; see {log_path}")
    return out


def data(root):
    stamp = digest_files([os.path.join(HERE, "gen_data.py")]) + f":{SF}"
    d = os.path.join(root, BUILD, "data")
    stamp_file = os.path.join(d, "stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(d, ignore_errors=True)
        gen_data.generate(d, SF)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return d


def load_check_norm(root):
    """The result normalization of the repository's oracle gate."""
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.norm


def frames_equal(got, want):
    """Exact equality after normalization, as the oracle gate requires."""
    import pandas as pd
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    try:
        pd.testing.assert_frame_equal(got.reset_index(drop=True),
                                      want.reset_index(drop=True),
                                      check_dtype=False, check_exact=True)
        return True
    except AssertionError:
        return False


def check_results(root, data_dir, result, plan):
    """Compares each dumped result with its DuckDB oracle; returns the
    (kind, text) of every statement whose output is wrong."""
    import duckdb
    import pandas as pd
    norm = load_check_norm(root)
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS "
                    f"SELECT * FROM read_parquet('{p}')")
    kinds = {s["text"]: s["kind"] for s in plan["statements"]}
    bad = set()
    for e in result["results"]:
        sql = e.get("oracle") or plan["oracles"].get(e["text"])
        files = sorted(glob.glob(os.path.join(e["dir"], "*.parquet")))
        ok = False
        if sql and not e.get("error") and files:
            want = norm(con.execute(sql).fetchdf())
            got = norm(pd.concat([pd.read_parquet(f) for f in files],
                                 ignore_index=True))
            ok = frames_equal(got, want)
        if not ok:
            log(f"check failed: {e['key']}: {e.get('error') or 'output differs'}")
            bad.add((kinds[e["text"]], e["text"]))
    return bad


def check_dml(result, ops):
    c = result["checks"]
    ins = sum(o["rows"] for o in ops if o["key"] == "insert_edge" and not o["error"])
    dels = sum(o["rows"] for o in ops if o["key"] == "delete_edge" and not o["error"])
    ok = c["final_edges"] == c["initial_edges"] + ins - dels
    if not ok:
        log(f"edge count {c['final_edges']} != {c['initial_edges']} + {ins} - {dels}")
    bad = set() if ok else {("write", o["text"]) for o in ops if o["kind"] == "write"}
    return bad, {"initial_edges": c["initial_edges"], "final_edges": c["final_edges"],
                 "inserted": ins, "deleted": dels}


def end_to_end(result, ops, window_s):
    lat = [(o["t1"] - o["t0"]) / 1e9 for o in ops]
    tail_v, tail_pct, n = stats.tail(lat)
    m = {
        "setup_s": (stats.median(result["setup_reps_s"]), "s"),
        "ops_per_s": (len(ops) / window_s, "op/s"),
        "held_mb_end": (result["heap_mb_end"], "MiB"),
    }
    return m, {"p50_s": stats.median(lat), "tail_s": tail_v,
               "tail_percentile": tail_pct, "tail_n": n}


def per_layer(result, traced, untraced, rerun, cores):
    spans = result["spans"]
    selfs = stats.self_times(spans)
    n = max(len(traced), 1)

    def span_sum(name):
        return sum(selfs[s["id"]] for s in spans
                   if s["name"] == name and s["op"] >= 0) / 1e6

    def dur(s):
        return (s["t1"] - s["t0"]) / 1e9

    def cnt(key):
        return sum(o["counters"].get(key, 0.0) for o in traced)

    parse_ms = span_sum("lang.parse")
    explain_ms = sum(dur(s) for s in spans if s["name"] == "planner.explain") * 1e3
    action_s = sum(dur(s) for s in spans if s["name"] == "exec.action")
    writes = [o for o in traced if o["kind"] == "write"]
    written_b = sum(o["counters"].get("prep.bytes_written_b", 0.0) +
                    o["counters"].get("exec.bytes_written_b", 0.0) for o in writes)
    rows = sum(max(o["rows"], 0) for o in writes)
    m = {
        "lang.parse_ms": (parse_ms / n, "ms"),
        "planner.plan_ms": (max(explain_ms - parse_ms, 0.0) / n, "ms"),
        "planner.steps": (cnt("planner.steps") / n, "count"),
        "prep.construct_ms": (span_sum("prep.construct") / n, "ms"),
        "prep.jobs": (cnt("prep.jobs") / n, "count"),
        "catalyst.analysis_ms": (cnt("exec.phase.analysis") / n, "ms"),
        "catalyst.optimization_ms": (cnt("exec.phase.optimization") / n, "ms"),
        "catalyst.planning_ms": (cnt("exec.phase.planning") / n, "ms"),
        "exec.jobs": (cnt("exec.jobs") / n, "count"),
        "exec.tasks": (cnt("exec.tasks") / n, "count"),
        "exec.run_s": (cnt("exec.run_ms") / 1e3 / n, "s"),
        "exec.cpu_s": (cnt("exec.cpu_ms") / 1e3 / n, "s"),
        "exec.cpu_util": (cnt("exec.cpu_ms") / 1e3 / (action_s * cores)
                          if action_s else 0.0, "ratio"),
        "exec.sched_delay_ms": (cnt("exec.sched_delay_ms") / n, "ms"),
        "exec.shuffle_read_mb": (cnt("exec.shuffle_read_b") / MIB / n, "MiB"),
        "exec.shuffle_write_mb": (cnt("exec.shuffle_write_b") / MIB / n, "MiB"),
        "exec.spill_mb": (cnt("exec.spill_b") / MIB / n, "MiB"),
        "exec.gc_ms": (cnt("exec.gc_ms") / n, "ms"),
        "ddl.bytes_written_mb": (written_b / MIB / len(writes) if writes else 0.0, "MiB"),
        "ddl.bytes_per_row": (written_b / rows if rows else 0.0, "B/row"),
        "dml.rows_affected": (rows / len(writes) if writes else 0.0, "count"),
        "stage.rdds_left": (traced[-1]["counters"].get("stage.rdds_left", 0.0)
                            if traced else 0.0, "count"),
        "stage.cached_mb_after": (traced[-1]["counters"].get("stage.cached_mb_after", 0.0)
                                  if traced else 0.0, "MiB"),
    }
    setup_spans = [s for s in spans if s["op"] < 0]
    for t in ("Region", "Nation", "Customer", "Supplier", "Part", "Order",
              "User", "Event"):
        m[f"graph.build_s.{t}"] = (stats.median(
            [dur(s) for s in setup_spans if s["name"] == f"graph.build.{t}"]), "s")
    m["stats.collect_s"] = (stats.median(
        [dur(s) for s in setup_spans if s["name"] == "stats.collect"]), "s")
    m["stage.cached_mb_end"] = (result["cached_mb_end"], "MiB")
    for op in workloads.OPS:
        m[f"op.{op}.ms"] = (stats.median(
            [(o["t1"] - o["t0"]) / 1e6 for o in untraced if o["key"] == op]), "ms")
    has_writes = any(o["kind"] == "write" for o in untraced)
    for kind in ("write", "read"):
        m[f"dml.{kind}_p50_s"] = (stats.median(
            [(o["t1"] - o["t0"]) / 1e9 for o in untraced
             if o["kind"] == kind and has_writes]), "s")
    by_index = {o["index"]: o for o in rerun}
    diffs = [(o["t1"] - o["t0"]) - (by_index[o["index"]]["t1"] - by_index[o["index"]]["t0"])
             for o in traced if o["index"] in by_index]
    m["trace.overhead_ms"] = (stats.median(diffs) / 1e6, "ms")
    return m


def source_commit(root):
    head = os.path.join(root, ".git")
    if not os.path.exists(head):
        return None
    try:
        return subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        log("run from the repository root: the engine's sources are not here")
        return 2
    first_build = not os.path.exists(os.path.join(root, BUILD, "build.stamp"))
    deadline = t_start + (880 if first_build else DEADLINE_S)
    os.makedirs(os.path.join(root, BUILD), exist_ok=True)
    classpath, source_digest = build(root, deadline)
    data_dir = data(root)

    n_cust, n_ord = gen_data.sizes(SF)[:2]
    plan = workloads.build(args.workload, args.seed, n_cust, n_ord)
    text = workloads.statements_text(plan)
    work = os.path.join(root, BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    stmt_file = os.path.join(work, "statements.jsonl")
    with open(stmt_file, "w") as f:
        f.write(text)

    cores = len(os.sched_getaffinity(0))
    out_file = os.path.join(work, "result.json")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", args.workload,
            "--statements", stmt_file, "--data", data_dir, "--work", work,
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--setups", str(SETUPS), "--cores", str(cores), "--out", out_file]
    run_bounded(cmd, root, dict(os.environ), deadline, os.path.join(work, "jvm.log"))
    with open(out_file) as f:
        result = json.load(f)

    timed = plan["statements"]
    ops = result["ops"]
    for o in ops:
        o["text"] = timed[o["index"]]["text"]
    bad = check_results(root, data_dir, result, plan)
    check_info = {"checked_statements": len(result["results"])}
    if result["checks"]:
        bad_writes, counts = check_dml(result, ops)
        bad |= bad_writes
        check_info.update(counts)
    untraced = [o for o in ops if o["phase"] == "untraced"]
    traced = [o for o in ops if o["phase"] == "traced"]
    rerun = [o for o in ops if o["phase"] == "rerun"]
    attempted, failed = stats.failures(ops, bad)

    e2e, tail_info = end_to_end(result, untraced, result["windows_s"]["untraced"])
    if args.trace:
        metrics = per_layer(result, traced, untraced, rerun, cores)
    else:
        metrics = e2e
    counts = {}
    for o in untraced:
        counts[o["key"]] = counts.get(o["key"], 0) + 1
    report = {
        "report": args.workload, "seed": args.seed,
        "held_out_seed": workloads.HELD_OUT_SEED,
        "statements_sha256": workloads.digest(text),
        "trace": args.trace, "seconds": args.seconds,
        "failed_frac": stats.failed_frac(ops, bad),
        **check_info, **tail_info,
        "samples": len(untraced), "samples_per_key": counts,
        "windows_s": result["windows_s"], "setup_reps_s": result["setup_reps_s"],
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "env": dict(result["env"], commit=source_commit(root),
                    source_sha256=source_digest, sf=SF, setups=SETUPS,
                    heap=HEAP, python=sys.version.split()[0]),
    }
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report, sort_keys=True))
    print(json.dumps({
        "correct": not bad, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # noqa: BLE001 - report and fail without a result
        log(f"error: {e}")
        sys.exit(1)
