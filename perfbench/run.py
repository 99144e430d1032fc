#!/usr/bin/env python3
"""perfbench — full-result latency of the graft engine, per workload.

Usage (from the repository root):
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the harness if its sources changed (sbt, offline), generates the
workload's inputs from the seed, runs the harness JVM (one Spark session
on local[min(3, nproc - 1)], one client in a closed loop), checks every
output, and prints the metrics. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the per-layer ones
from the traced passes, plus the tracing overhead.

Everything it writes goes under .bench_build/perfbench/ in the
repository. Workload definitions live in perfbench/workloads.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_BUDGET_S = 170.0   # one run, build excluded; the contract allows 180
CHECK_RESERVE_S = 15.0
SBT_TIMEOUT_S = 840

sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import checks   # noqa: E402
import datagen  # noqa: E402
import stats    # noqa: E402


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build ------------------------------------------------------------------

def _source_files():
    fixed = ["build.sbt", "project/build.properties", "perfbench/build.sbt",
             "perfbench/project/build.properties"]
    files = [f for f in fixed if os.path.isfile(os.path.join(ROOT, f))]
    for top in ("src/main", "perfbench/src"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in _source_files():
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness unless the sources are unchanged since
    the last build; returns (classpath, jvm options, seconds spent)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("no engine sources next to perfbench/ (expected build.sbt and src/main/scala)")
    digest = source_hash()
    launch = os.path.join(WORK, "launch.txt")
    stamp = os.path.join(WORK, "launch.stamp")
    t0 = time.time()
    if not (os.path.isfile(launch) and os.path.isfile(stamp)
            and open(stamp).read() == digest):
        os.makedirs(WORK, exist_ok=True)
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        log("building engine and harness (sbt writeLaunch)")
        with open(os.path.join(WORK, "build.log"), "w") as out:
            try:
                # offline, from the resolvers in the user's sbt repositories file
                rc = subprocess.run(
                    ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                     "-Dsbt.override.build.repos=true", "writeLaunch"],
                    cwd=HERE, env=env, stdout=out,
                    stderr=subprocess.STDOUT, timeout=SBT_TIMEOUT_S).returncode
            except (OSError, subprocess.TimeoutExpired) as e:
                die(f"build failed: {e}")
        if rc != 0:
            die(f"build failed (rc {rc}); see {WORK}/build.log")
        shutil.copyfile(os.path.join(HERE, "target", "launch.txt"), launch)
        with open(stamp, "w") as fh:
            fh.write(digest)
    lines = open(launch).read().splitlines()
    return lines[0], lines[1:], time.time() - t0, digest


# ---- inputs -----------------------------------------------------------------

def generate(wl, seed, dest):
    """Write the workload's inputs under dest; returns (sizes, replay)."""
    if os.path.exists(dest):
        shutil.rmtree(dest)
    if wl["kind"] == "queries":
        return datagen.tpch(dest, seed, wl["scale_factor"]), None
    sizes = datagen.reference(os.path.join(dest, "ref"), seed, wl["users"])
    replay = datagen.changes(os.path.join(dest, "changes"), seed, wl["base_rows"],
                             wl["batch_rows"], (wl["folds"] + 1) // 2)
    sizes.update(keyed_base_rows=wl["base_rows"], batch_rows=wl["batch_rows"],
                 folds=wl["folds"])
    return sizes, replay


# ---- harness JVM ------------------------------------------------------------

def run_jvm(cp, jvm_opts, wl, args, data, run_dir, cores, deadline_s):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = [o for o in jvm_opts if not o.startswith("-Xmx")]
    # -Xms = -Xmx: the forced collections inside each op must not shrink the
    # heap. -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = (["java", *opts, "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'spark-warehouse')}",
            "-cp", cp, "perfbench.Main",
            "--data", data, "--out", run_dir, "--cores", str(cores),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--min-passes", str(wl["min_passes"]), "--min-samples", str(wl["min_samples"]),
            "--deadline-s", f"{deadline_s:.1f}"]
           + (["--queries", ",".join(wl["ops"])] if wl["kind"] == "queries"
              else ["--dbt-folds", str(wl["folds"])]))
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=deadline_s + 10)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"harness exceeded its deadline; see {run_dir}/jvm.log")
    if rc != 0:
        die(f"harness failed (rc {rc}); see {run_dir}/jvm.log")
    with open(os.path.join(run_dir, "result.json")) as fh:
        return json.load(fh)


# ---- checks -----------------------------------------------------------------

def check_outputs(wl, res, data, run_dir, replay):
    """(attempted, failures) over the validation pass and every measured
    op. A thrown op or a wrong output is one failure."""
    failures = []
    attempted = 0
    validate = os.path.join(run_dir, "validate")
    merge_states, cdc_states = replay if replay else (None, None)
    dag_readback = None
    for v in res["validation"]:
        attempted += 1
        name = v["op"]
        if v["error"]:
            failures.append((name, "validation", v["error"]))
            continue
        if wl["kind"] == "queries":
            sql = res["oracle_sql"].get(name)
            why = ("no oracle SQL" if sql is None else
                   checks.check_oracle(ROOT, data, checks.corpus_tables(ROOT),
                                       os.path.join(validate, name), sql))
        elif name == "dag_user_base":
            dag_readback = v["readback"]
            why = checks.check_oracle(
                ROOT, os.path.join(data, "ref"), datagen.REFERENCE_TABLES,
                os.path.join(validate, "tables", "warehouse", "user_base"),
                res["oracle_sql"][name])
        else:
            why = checks.check_readback(
                v["readback"], checks.fold_state(name, merge_states, cdc_states))
        if why:
            failures.append((name, "validation", why))
    if wl["kind"] == "dbt":
        for guarded, states in ((False, merge_states), (True, cdc_states)):
            attempted += 1
            path = os.path.join(validate, "tables", "cdc" if guarded else "merged")
            why = checks.check_table(path, states[-1], guarded)
            if why:
                failures.append(("final_" + ("cdc" if guarded else "merged"), "table", why))
    for p in res["passes"]:
        for op in p["ops"]:
            attempted += 1
            why = op["error"]
            if not why and op["name"] == "dag_user_base":
                why = None if op["readback"] == dag_readback else "mart read-back differs"
            elif not why and wl["kind"] == "dbt":
                why = checks.check_readback(
                    op["readback"], checks.fold_state(op["name"], merge_states, cdc_states))
            if why:
                failures.append((op["name"], f"pass {p['index']}", why))
    return attempted, failures


# ---- metrics ----------------------------------------------------------------

def e2e_metrics(wl, res, setup_s):
    passes = [p for p in res["passes"] if not p["traced"]]
    lat = [op["ms"] for p in passes for op in p["ops"]]
    n = len(lat)
    # the tail percentile is fixed per workload by the ten-beyond rule at
    # its guaranteed sample count; where none qualifies, the tail is the
    # slowest op of each pass, median over passes
    pct = stats.tail_percentile(wl["min_samples"])
    if pct is None:
        tail = (statistics.median(max(op["ms"] for op in p["ops"]) for p in passes), "ms",
                {"percentile": 100, "samples": n, "passes": len(passes)})
    else:
        tail = (stats.nearest_rank(lat, pct), "ms",
                {"percentile": pct, "samples": n, "beyond": stats.beyond(n, pct)})
    return {
        "setup_s": (setup_s, "s", {}),
        "pass_s": (statistics.median(p["wall_s"] for p in passes), "s",
                   {"passes": len(passes)}),
        "op_p50_ms": (statistics.median(lat), "ms", {"samples": n}),
        "op_tail_ms": tail,
        # the status store's job history grows pass over pass, so the
        # median pass keeps this independent of how many passes fit
        "heap_peak_mb": (statistics.median(max(op["heap_mb"] for op in p["ops"])
                                           for p in passes), "MB", {"passes": len(passes)}),
    }


def layer_metrics(res, cores):
    """Per-layer metrics: per op of every traced pass, summed per pass,
    median over traced passes; plus the tracing overhead."""
    spans = {}
    for sid, parent, op, layer, start, end in res["spans"]:
        spans.setdefault(op, []).append(
            {"id": sid, "parent": parent, "layer": layer, "start": start, "end": end})
    jobs = {}
    for op, layer, span, job_id, first, n_stages, start, end in res["jobs"]:
        jobs.setdefault(op, []).append({"layer": layer, "span": span, "job": job_id,
                                        "first_stage": first, "start": start, "end": end})
    tasks = {}
    for t in res["tasks"]:
        tasks.setdefault(t["op"], []).append(t)
    actions = {}
    for op, func, plan_ms, ms, ok in res["actions"]:
        actions.setdefault(op, []).append({"func": func, "plan_ms": plan_ms, "ms": ms})
    per_pass, per_op = [], []
    for p in res["passes"]:
        if not p["traced"]:
            continue
        ops = []
        for op in p["ops"]:
            m = stats.op_layers(op, spans.get(op["id"], []), jobs.get(op["id"], []),
                                tasks.get(op["id"], []), actions.get(op["id"], []), cores)
            ops.append(m)
            per_op.append({"pass": p["index"], "op": op["name"], "op_id": op["id"],
                           "span_ids": [s["id"] for s in spans.get(op["id"], [])],
                           "e2e_ms": op["ms"],
                           **{k: v for k, v in m.items() if not k.startswith("_")}})
        per_pass.append(stats.workload_layers(ops, cores))
    metrics = {k: (statistics.median(pp[k] for pp in per_pass), unit, {})
               for k, unit in stats.LAYER_UNITS.items()}
    wall = lambda traced: statistics.median(
        p["wall_s"] for p in res["passes"] if p["traced"] == traced)
    metrics["trace.overhead_s"] = (wall(True) - wall(False), "s",
                                   {"traced_pass_s": wall(True),
                                    "untraced_pass_s": wall(False)})
    return metrics, per_op


def gap_table(per_op):
    """Count-vs-e2e per query op, both from the same traced passes:
    construction plus the full materialisation against construction
    plus `df.count()` on the same DataFrame; medians over passes."""
    rows = {}
    for r in per_op:
        if r["count.ms"]:   # only query ops take the count reading
            rows.setdefault(r["op"], []).append(
                (r["construct.ms"] + r["exec.ms"], r["construct.ms"] + r["count.ms"]))
    table = []
    for name, pairs in rows.items():
        full = statistics.median(a for a, _ in pairs)
        cnt = statistics.median(b for _, b in pairs)
        table.append({"op": name, "e2e_ms": full, "count_ms": cnt, "ratio": full / cnt})
    return sorted(table, key=lambda r: -r["ratio"])


def gap_markdown(report):
    h = report["host"]
    lines = [f"# count vs end-to-end: {report['workload']}", "",
             f"seed {report['seed']}, local[{report['cores']}], nproc {h['nproc']}, "
             f"Spark {h['spark_version']}, Java {h['java_version']}, "
             f"load {h['loadavg_start'][0]:.2f} -> {h['loadavg_end'][0]:.2f}, "
             f"source sha256 {h['source_sha256'][:12]}", "",
             "e2e = construction + full materialisation (noop sink); count = construction "
             "+ `df.count()` on the same DataFrame, taken right after it. Both are medians "
             "over the same traced passes.", "",
             "| op | e2e ms | count ms | e2e / count |", "|---|---:|---:|---:|"]
    lines += [f"| {r['op']} | {r['e2e_ms']:.1f} | {r['count_ms']:.1f} | {r['ratio']:.2f} |"
              for r in report["count_vs_e2e"]]
    return "\n".join(lines) + "\n"


# ---- main -------------------------------------------------------------------

def cpu_steal_s():
    """CPU time the hypervisor gave to other guests, summed over all
    vCPUs since boot (None where /proc/stat is missing)."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def host_facts(digest, load_start):
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, timeout=10,
                                    capture_output=True, text=True).stdout.strip() or None
        except (OSError, subprocess.TimeoutExpired):
            pass
    return {"nproc": os.cpu_count(), "affinity_cpus": len(os.sched_getaffinity(0)),
            "git_commit": commit, "source_sha256": digest,
            "loadavg_start": list(load_start)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)
    if args.workload not in spec["workloads"]:
        die(f"unknown workload {args.workload!r}; known: {sorted(spec['workloads'])}")
    wl = spec["workloads"][args.workload]
    load_start, steal_start = os.getloadavg(), cpu_steal_s()
    cp, jvm_opts, build_s, digest = build()
    host = host_facts(digest, load_start)

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-t{args.trace}")
    if os.path.exists(run_dir):
        shutil.rmtree(run_dir)
    os.makedirs(run_dir)
    data = os.path.join(run_dir, "data")
    sizes, replay = generate(wl, args.seed, data)
    # one vCPU is left to the driver thread, the listener bus and GC
    cores = max(1, min(spec["max_cores"], (os.cpu_count() or 1) - 1))
    spent = time.time() - T_START - build_s
    deadline = RUN_BUDGET_S - spent - CHECK_RESERVE_S
    log(f"{args.workload}: inputs ready ({sizes}); starting harness on local[{cores}]")
    res = run_jvm(cp, jvm_opts, wl, args, data, run_dir, cores, deadline)
    log(f"harness done at {time.time() - T_START:.1f} s; checking outputs")
    attempted, failures = check_outputs(wl, res, data, run_dir, replay)
    log(f"checks done at {time.time() - T_START:.1f} s")
    for name, where, why in failures:
        log(f"FAILED {name} ({where}): {why}")
    first_op = res["setup"]["jvm_start_epoch_ms"] / 1e3 + res["setup"]["first_op_s"]
    setup_s = first_op - T_START - build_s   # the build is not set-up

    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "cores": cores, "input_sizes": sizes,
              "composition": wl.get("ops", "dbt DAG + folds"),
              "setup_parts": {**res["setup"], "build_s": build_s},
              "host": {**host, **res["host"], "loadavg_end": list(os.getloadavg()),
                       "cpu_steal_s": (None if steal_start is None
                                       else cpu_steal_s() - steal_start)},
              "passes": [{"traced": p["traced"], "wall_s": p["wall_s"],
                          "ops": [[op["name"], op["ms"], op["heap_mb"]] for op in p["ops"]]}
                         for p in res["passes"]],
              "attempted": attempted, "failed": len(failures),
              "failures": [list(f) for f in failures]}
    if args.trace:
        metrics, per_op = layer_metrics(res, cores)
        report["per_op"] = per_op
        report["count_vs_e2e"] = gap_table(per_op)
    else:
        metrics = e2e_metrics(wl, res, setup_s)
    report["metrics"] = {k: {"value": v, "unit": u, **extra}
                         for k, (v, u, extra) in metrics.items()}
    reports = os.path.join(WORK, "reports")
    os.makedirs(reports, exist_ok=True)
    stem = os.path.join(reports, f"{args.workload}-s{args.seed}-t{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(report, fh, indent=1)
    if report.get("count_vs_e2e"):
        with open(stem + "-count_vs_e2e.md", "w") as fh:
            fh.write(gap_markdown(report))

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"local[{cores}] passes={len(res['passes'])}")
    for k, (v, u, extra) in metrics.items():
        detail = " ".join(f"{a}={b:.4g}" if isinstance(b, float) else f"{a}={b}"
                          for a, b in extra.items())
        print(f"  {k:24s} {v:12.4f} {u:6s} {detail}")
    print(f"  {'op_fail_ratio':24s} {len(failures) / attempted:12.4f} ratio  "
          f"failed={len(failures)} attempted={attempted}")
    print("host " + json.dumps(report["host"], sort_keys=True))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures),
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u, _) in metrics.items()}}))


if __name__ == "__main__":
    main()
