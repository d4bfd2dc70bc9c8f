#!/usr/bin/env python3
"""The repo's benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the program and the benchmark
(`build.py`), makes the workload's inputs from the seed (`gen.py`), runs
the JVM harness (`src/perfbench/Harness.scala`), checks each entry's result
against its DuckDB oracle with `tools/check_oracle.py`, and prints every
metric with its unit. The last line of standard output is a compact JSON
summary; per-entry times, ticks and spans go to the report file it names.

With `--trace 0` the summary holds the end-to-end metrics; with
`--trace 1` it holds the per-layer metrics of the traced passes, the
tracing overhead (measured against untraced passes of the same run) among
them. The names and units come from BENCHMARK.json.
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

HEAP = "3g"
RUN_LIMIT_S = 170.0  # after the build; a run must end within 180 s


def declared_metrics():
    """BENCHMARK.json's end-to-end and per-layer metrics, as
    ([(name, unit)], [(name, unit)])."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ([(m["name"], m["unit"]) for m in b["end_to_end"]],
            [(m["name"], m["unit"]) for m in b["per_layer"]])


def unit_of(name):
    """Unit of a per-layer metric that BENCHMARK.json does not list,
    from its name's suffix."""
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), (".s", "s"), ("_mb", "MB"),
                         ("_frac", "ratio"), ("_ratio", "ratio"),
                         ("_per_krow", "ms/krow")):
        if name.endswith(suffix):
            return unit
    return "count"


JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def cores():
    return len(os.sched_getaffinity(0))


def make_inputs(name, wl, seed, gen_dir, results_dir):
    """Writes the workload's inputs under `gen_dir`; returns plan fields."""
    tables = os.path.join(gen_dir, "tables")
    gen.make_tables(seed, wl["sf"], tables)
    plan = {"base_dir": tables}
    if "entries" in wl:
        plan["entries"] = gen.entry_order(wl["entries"], seed)
    if name == "runner_soak":
        scripts_dir = os.path.join(gen_dir, "scripts")
        os.makedirs(scripts_dir)
        scripts, oracles = workloads.runner_scripts(tables, results_dir)
        for f, src in scripts.items():
            with open(os.path.join(scripts_dir, f), "w") as fh:
                fh.write(src)
        interval_ms = 60_000
        start_ms = 1_700_000_000_000
        seed_dir = os.path.join(gen_dir, "journal_seed")
        paths = ["file:" + os.path.join(scripts_dir, f) for f in sorted(scripts)]
        gen.seed_journal(seed_dir, paths, wl["journal_rows"], start_ms,
                         interval_ms, seed)
        scala = sorted(f for f in scripts if f.endswith(".scala"))
        plan.update({
            "scripts_dir": scripts_dir, "journal_seed_dir": seed_dir,
            "round_ticks": wl["round_ticks"], "interval_ms": interval_ms,
            "start_ms": start_ms, "journal_rows": wl["journal_rows"],
            "warmup_ticks": wl["warmup_ticks"],
            "recompiles": gen.recompile_schedule(
                seed, wl["round_ticks"], wl["recompile_block"], scala),
            "oracles": oracles})
    return plan


def run_jvm(cp, plan_path, result_path, run_dir, deadline):
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m",
           f"-Djava.io.tmpdir={run_dir}/tmp"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", plan_path, result_path]
    # Spark prefers these variables to its configuration; the run keeps
    # its scratch space inside its own directory.
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_EXECUTOR_DIRS", "SPARK_CONF_DIR")}
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                           timeout=max(1.0, deadline - time.monotonic()), cwd=run_dir)
    if r.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"harness failed with exit code {r.returncode}")


def check_oracles(results_dir, data_dir, deadline):
    """Runs tools/check_oracle.py unchanged; returns {name: "PASS"|reason}."""
    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
         results_dir, data_dir], stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=max(1.0, deadline - time.monotonic()),
        cwd=os.path.dirname(results_dir))
    verdicts = {}
    for line in r.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) (\S+?):? (.*)", line)
        if m:
            verdicts[m.group(2)] = "PASS" if m.group(1) == "PASS" else m.group(3)[:200]
    return verdicts


def reduce_entries(raw, verdicts, plan):
    execs = [dict(r, phase="warmup") for r in raw["warmup"]] + \
        [dict(r, phase="timed") for r in raw["runs"]]
    bad = {n for n in plan["entries"] if verdicts.get(n) != "PASS"}
    failed = [r for r in execs if r["error"] or r["name"] in bad]
    untraced = [r for r in raw["runs"] if not r["traced"]]
    passes = [p["s"] for p in raw["passes"] if not p["traced"]]
    return {
        "attempted": len(execs), "failed": len(failed),
        "failing": sorted({r["name"] for r in failed}),
        "pass_s": stats.median(passes), "passes": len(passes),
        "steps": [r["s"] for r in untraced],
    }


def reduce_runner(raw, verdicts, plan):
    ticks = raw["ticks"]
    names = list(plan["oracles"])
    bad = [n for n in names if verdicts.get(n) != "PASS"]
    jobs = sum(t["jobs"] for t in ticks)
    failed_jobs = sum(t["failed"] for t in ticks)
    sql_errors = sum(r["sql_errors"] for r in raw["rounds"])
    failed = min(jobs, failed_jobs + sql_errors + len(bad) * len(ticks))
    untraced = [t for t in ticks if not t["traced"]]
    rounds = {}
    for t in untraced:
        rounds[t["round"]] = rounds.get(t["round"], 0.0) + t["s"]
    failing = sorted(set(bad) | {j for t in ticks for j in t["failed_jobs"]})
    return {
        "attempted": jobs, "failed": failed, "failing": failing,
        "pass_s": stats.median(list(rounds.values())), "passes": len(rounds),
        "steps": [t["s"] for t in untraced],
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    wl = workloads.WORKLOADS[args.workload]
    traced = args.trace == 1

    out_root = os.path.join(ROOT, ".bench_build", "perfbench")
    cp = build.build(out_root)
    deadline = time.monotonic() + RUN_LIMIT_S
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = os.path.join(out_root, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    results_dir = os.path.join(run_dir, "results")
    try:
        # Input generation is the benchmark's own work, not the program's
        # set-up, so it happens before the set-up clock starts.
        t0 = time.perf_counter()
        plan = make_inputs(args.workload, wl, args.seed,
                           os.path.join(run_dir, "gen"), results_dir)
        gen_s = time.perf_counter() - t0
        n = cores()
        plan.update({"workload": args.workload, "seed": args.seed,
                     "seconds": args.seconds, "trace": traced, "cores": n,
                     "run_dir": run_dir, "results_dir": results_dir})
        plan_path = os.path.join(run_dir, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        result_path = os.path.join(run_dir, "result.json")
        # Set-up runs from the JVM's start to the harness's first timed
        # operation: session, workload preparation, warm-up pass.
        spawned = time.time()
        run_jvm(cp, plan_path, result_path, run_dir, deadline)
        with open(result_path) as f:
            raw = json.load(f)
        setup_s = raw["timed_start_ms"] / 1e3 - spawned
        if args.workload == "runner_soak":
            os.makedirs(results_dir, exist_ok=True)
            with open(os.path.join(results_dir, "oracle_sql.json"), "w") as f:
                json.dump(plan["oracles"], f)
        verdicts = check_oracles(results_dir, plan["base_dir"], deadline)
        if args.workload == "runner_soak":
            red = reduce_runner(raw, verdicts, plan)
        else:
            red = reduce_entries(raw, verdicts, plan)
        steps = red["steps"]
        end_to_end, per_layer = declared_metrics()
        if traced:
            if args.workload == "runner_soak":
                layer = stats.runner_layer_metrics(raw, n)
            else:
                layer = stats.entry_layer_metrics(raw, n)
            layer["trace.overhead_frac"] = overhead(raw, args.workload)
            # a metric of a layer the workload does not exercise reads 0
            for k, _ in per_layer:
                layer.setdefault(k, 0.0)
            units = dict(per_layer)
            metrics = {k: (v, units.get(k) or unit_of(k))
                       for k, v in sorted(layer.items())}
            summary_keys = set(units)
        else:
            values = {
                "setup_s": setup_s,
                "pass_s": red["pass_s"],
                "step_gmean_ms": statistics.geometric_mean(steps) * 1e3,
                "heap_peak_mb": raw["heap_peak_mb"],
            }
            metrics = {k: (values[k], u) for k, u in end_to_end}
            summary_keys = set(metrics)
        report = {
            "workload": args.workload, "seed": args.seed, "trace": traced,
            "nproc": n, "heap": HEAP, "sf": wl["sf"],
            "seconds": args.seconds, "setup_s": setup_s, "gen_s": gen_s,
            "passes": red["passes"], "steps": len(steps),
            "attempted": red["attempted"], "failed": red["failed"],
            "failing": red["failing"],
            "oracle": verdicts, "metrics": {k: v for k, (v, _) in metrics.items()},
            "raw": raw,
        }
        report_path = os.path.join(out_root, "reports", tag + ".json")
        os.makedirs(os.path.dirname(report_path), exist_ok=True)
        with open(report_path, "w") as f:
            json.dump(report, f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print_report(report, metrics, summary_keys, steps, report_path)


def overhead(raw, workload):
    """Median traced pass (or round) over median untraced one, minus one.
    The Runner's round on the enlarged history is left out."""
    if workload == "runner_soak":
        single = {r["round"] for r in raw["rounds"] if r["history_copies"] == 1}
        rounds = {}
        for t in raw["ticks"]:
            if t["round"] in single:
                rounds.setdefault((t["round"], t["traced"]), []).append(t["s"])
        on = [sum(v) for (_, tr), v in rounds.items() if tr]
        off = [sum(v) for (_, tr), v in rounds.items() if not tr]
    else:
        on = [p["s"] for p in raw["passes"] if p["traced"]]
        off = [p["s"] for p in raw["passes"] if not p["traced"]]
    return stats.median(on) / stats.median(off) - 1.0 if on and off else 0.0


def print_report(rep, metrics, summary_keys, steps, report_path):
    n = len(steps)
    print(f"workload={rep['workload']} seed={rep['seed']} trace={int(rep['trace'])} "
          f"nproc={rep['nproc']} heap={rep['heap']} sf={rep['sf']} "
          f"seconds={rep['seconds']:g}")
    print(f"samples: passes={rep['passes']} steps={n} attempted={rep['attempted']} "
          f"failed={rep['failed']} fail_frac={rep['failed'] / rep['attempted']:.4f}")
    if rep["failing"]:
        print("failing: " + " ".join(rep["failing"]))
    if n:
        q = stats.highest_supported(n)
        tail = f"p{round(q * 100)}={stats.percentile(steps, q) * 1e3:.1f} ms" \
            if q and q > 0.5 else "(no higher percentile has 10 samples beyond it)"
        print(f"steps: p50={stats.percentile(steps, 0.5) * 1e3:.1f} ms {tail} (n={n})")
    for k, (v, u) in metrics.items():
        print(f"{k:34s} {v:14.4f} {u}")
    print(f"report: {os.path.relpath(report_path, ROOT)}")
    summary = {
        "correct": rep["failed"] == 0, "attempted": rep["attempted"],
        "failed": rep["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                    if k in summary_keys},
    }
    print(json.dumps(summary, separators=(",", ":")))


if __name__ == "__main__":
    main()
