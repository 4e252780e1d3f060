#!/usr/bin/env python3
"""The repository's benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the JVM harness from source (perfbench/build.py),
generates the workload's inputs from the seed, runs the workload in one
fresh JVM on local[nproc], checks the outputs outside the timed region,
writes the full record to .bench_out/, prints every metric by name with
its unit, and ends with one JSON line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones from a traced run (see perfbench/README.md).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen_shop  # noqa: E402
import gen_tables  # noqa: E402
import stats  # noqa: E402
import trace  # noqa: E402

# Inputs per workload. ETL volumes are a share of the largest volumes
# the reference logged (gen_shop.REF); `days` delta days are generated.
# The battery runs every `sample_every`-th non-graph query of each tier
# and every `graph_every`-th GraphOps query (each sorted by name) on the
# smallest corpus size. A run measures at least `min_units` units (a
# daily run, or a battery pass) and starts another only if it should end
# within --seconds.
WORKLOADS = {
    "etl_backfill": dict(kind="etl", scale=0.02, days=0, min_units=1),
    "etl_delta": dict(kind="etl", scale=0.02, days=4, min_units=2),
    "battery": dict(kind="battery", table_scale=1, sample_every=30,
                    graph_every=8, min_units=2),
}
E2E = [("setup_s", "s"), ("wall_s", "s"), ("rows_per_s", "1/s"),
       ("query_geomean_s", "s"), ("query_p95_s", "s"), ("rss_peak_mb", "MB")]
BASELINE = {"stage.rows_per_s": "reference staging 1,230-4,880 rows/s",
            "merge.wall_s": "reference merge phase ~3.3 s"}
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
DEADLINE_S = 170


def cpu_anchor():
    """Best of three timings of a fixed single-thread integer loop."""
    best = None
    for _ in range(3):
        t = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x = (x * 31 + i) & 0xFFFFFFFF
        dt = time.perf_counter() - t
        best = dt if best is None else min(best, dt)
    return best


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return None


def run_harness(classes, cfg, work, deadline):
    cfg_path = os.path.join(work, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={work}/tmp"]
           + JVM_OPENS + ["-cp", build.classpath(classes),
                          "graft.perfbench.Harness", cfg_path])
    os.makedirs(f"{work}/tmp")
    with open(os.path.join(work, "harness.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=log)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("harness timed out")
    if rc != 0 or not os.path.exists(cfg["out"]):
        with open(os.path.join(work, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"harness exited {rc}")
    with open(cfg["out"]) as f:
        return json.load(f)


def all_ops(rec):
    """Every operation the run attempted, set-up and traced ones too."""
    units = [rec[k] for k in ("backfill", "verify") if k in rec]
    units += rec["units"] + rec.get("traced_units", [])
    return [o for u in units for o in u["ops"]]


def query_medians(passes):
    """Each query's median time over the passes, for the queries that
    succeeded in every pass."""
    times = {}
    for u in passes:
        for o in u["ops"]:
            times.setdefault(o["op"], []).append(o["wall_s"] if o["ok"]
                                                 else None)
    return [stats.median(ts) for ts in times.values() if None not in ts]


def untraced_wall(rec, workload):
    """Untraced wall time of the work the traced run repeats: the last
    backfill, the same delta days, or a median battery pass."""
    walls = [u["wall_s"] for u in rec["units"]]
    if workload == "etl_backfill":
        return walls[-1]
    if workload == "etl_delta":
        return sum(walls)
    return stats.median(walls)


def e2e_metrics(rec, kind):
    units = rec["units"]
    walls = [u["wall_s"] for u in units]
    m = {"setup_s": stats.median(rec["setup_s"]),
         "wall_s": stats.median(walls)}
    if kind == "etl":
        m["rows_per_s"] = stats.median([u["nodes"] / u["wall_s"]
                                        for u in units])
        # the operations are the staging steps: with only a few daily
        # runs, a percentile over runs would be their maximum
        samples = [o["wall_s"] for u in units for o in u["ops"]
                   if "/stage/" in o["op"] and o["ok"]]
    else:
        m["rows_per_s"] = stats.median([
            sum(o["rows"] for o in u["ops"] if o["ok"]) / u["wall_s"]
            for u in units])
        samples = query_medians(units)
    m["query_geomean_s"] = stats.geomean(samples)
    m["query_p95_s"] = stats.percentile(samples, 95)
    m["rss_peak_mb"] = rec["rss_hwm_kb"] / 1024.0
    return m, len(samples)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    spec = WORKLOADS[a.workload]
    cores = len(os.sched_getaffinity(0))
    prov = {"nproc": cores, "load_avg_start": os.getloadavg(),
            "cpu_anchor_s": cpu_anchor(), "commit": commit(),
            "seed": a.seed, "workload": a.workload, "seconds": a.seconds,
            "trace": bool(a.trace)}
    classes = build.build()
    # the first run in a checkout builds; every run's workload gets the
    # same time limit
    deadline = time.time() + DEADLINE_S
    prov["source_digest"] = os.path.basename(os.path.dirname(classes))

    work = os.path.join(ROOT, ".bench_work",
                        f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cfg = {"workload": a.workload, "trace": bool(a.trace),
           "seconds": a.seconds, "cores": cores, "work": work,
           "min_units": spec["min_units"], "repo": ROOT,
           "out": os.path.join(work, "record.json")}
    correct = False
    try:
        if spec["kind"] == "etl":
            cfg["catalog"] = os.path.join(work, "catalog")
            prov["bronze_versions"] = gen_shop.generate(
                a.seed, spec["scale"], spec["days"], cfg["catalog"])
            prov["scale"] = spec["scale"]
        else:
            cfg["data"] = os.path.join(work, "data")
            cfg["dump"] = os.path.join(work, "results")
            cfg["sample_every"] = spec["sample_every"]
            cfg["graph_every"] = spec["graph_every"]
            gen_tables.generate(a.seed, spec["table_scale"], cfg["data"])
        prov["durable_cache_cold"] = not os.path.exists(
            os.path.join(work, "tmp", "graft-shared"))
        rec = run_harness(classes, cfg, work, deadline)

        ops = all_ops(rec)
        failures = [o for o in ops if not o["ok"]]
        problems = []
        if spec["kind"] == "etl":
            # the untraced pipeline, then the traced one. Each backfill
            # unit has its own pipeline (the last one is kept); traced
            # delta days run on a copy of the pipeline after its backfill.
            first = [rec["backfill"]] if "backfill" in rec else []
            runs = [first + rec["units"]] if first else [rec["units"][-1:]]
            if a.trace:
                runs.append(first + rec["traced_units"])
            for root, days in zip(rec["check_roots"], runs):
                problems += [f"{os.path.basename(root)}: {p}" for p in
                             checks.check_etl(cfg["catalog"], root, days)]
        else:
            bad, n_checked, errs = checks.check_battery(
                ROOT, cfg["data"], cfg["dump"])
            problems += errs + [f"{q}: result differs from its DuckDB oracle"
                                for q in bad]
            prov["oracle_checked"] = n_checked
        prov["load_avg_end"] = os.getloadavg()
        for k in ("spark_version", "java_version", "scala_version"):
            prov[k] = rec[k]

        e2e, n_samples = e2e_metrics(rec, spec["kind"])
        artifact = {"provenance": prov, "end_to_end": e2e,
                    "op_samples": n_samples,
                    "attempted": len(ops), "failed": len(failures),
                    "fail_frac": len(failures) / len(ops) if ops else 0.0,
                    "failures": failures, "check_problems": problems,
                    "record": {k: v for k, v in rec.items() if k != "trace"}}
        if a.trace:
            metrics = trace.layer_metrics(
                rec, untraced_wall(rec, a.workload), cores)
            metric_units = dict(trace.LAYER_METRICS)
            artifact["per_layer"] = metrics
            artifact["per_phase"] = trace.per_phase(rec)
            artifact["trace_events"] = rec["trace"]
        else:
            metrics, metric_units = e2e, dict(E2E)
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        name = f"{a.workload}_seed{a.seed}_trace{a.trace}.json"
        with open(os.path.join(out_dir, name), "w") as f:
            json.dump(artifact, f, indent=1)
        correct = not problems and not failures
    finally:
        # a failed run keeps its inputs, gold and logs for inspection
        if correct:
            shutil.rmtree(work, ignore_errors=True)

    for k, v in metrics.items():
        note = f"   [{BASELINE[k]}]" if k in BASELINE else ""
        print(f"{k:32s} {v:16.6f} {metric_units[k]}{note}")
    for f in failures:
        print(f"FAILED {f['op']}: {f.get('error_class')}: "
              f"{f.get('error_message')}")
    for p in problems:
        print(f"CHECK {p}")
    print(f"fail_frac {artifact['fail_frac']:.6f} "
          f"({len(failures)} of {len(ops)} operations)")
    print(json.dumps({"correct": correct, "attempted": len(ops),
                      "failed": len(failures),
                      "metrics": {k: {"value": v, "unit": metric_units[k]}
                                  for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
