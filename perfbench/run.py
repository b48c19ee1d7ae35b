#!/usr/bin/env python3
"""Benchmark of the `graft.SparkEntry` queries.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. A run compiles the program and the harness
(once per source state, cached in $CARGO_TARGET_DIR or .bench_build),
generates the input tables from the seed, runs one Spark process at
local[nproc] that drives the workload's queries as a single closed-loop
client, checks every result against the DuckDB oracle, and prints one
JSON line of metrics last. With --trace 1 the same queries run a second
time with Spark listeners registered, and the line holds the per-layer
metrics instead of the end-to-end ones. All scratch lives in a fresh
directory under .bench_work that is removed at exit.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

JVM_TIMEOUT_S = 150


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def steal_s():
    """CPU time the hypervisor gave to other guests so far, summed over
    every CPU (0 where /proc/stat does not say)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def catalog(classes, work):
    """{name: (module, oracle sql or None)} for every declared query,
    cached next to the class directory."""
    path = classes + ".catalog.json"
    if not os.path.exists(path):
        tmp = os.path.join(work, "catalog.json")
        subprocess.run(jvm(classes, work, "1g") + ["perfbench.Harness", "--list", tmp],
                       cwd=work, check=True, stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S)
        shutil.move(tmp, path)
    with open(path) as f:
        return {k: (v["module"], v["sql"]) for k, v in json.load(f).items()}


def jvm(classes, scratch, heap):
    return (["java", f"-Xmx{heap}", "-XX:+UseParallelGC",
             f"-Dgraft.fastTmp={scratch}/fast", f"-Djava.io.tmpdir={scratch}/tmp",
             f"-Dderby.system.home={scratch}/derby", "-Dspark.ui.enabled=false"]
            + build.JVM_OPENS + ["-cp", build.classpath(classes)])


def run_harness(classes, plan, scratch):
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    plan_path = os.path.join(scratch, "plan.txt")
    out_path = os.path.join(scratch, "records.jsonl")
    with open(plan_path, "w") as f:
        for k, v in plan.items():
            if k == "passes":
                f.writelines(f"pass={','.join(o)}\n" for o in v)
            else:
                f.write(f"{k}={','.join(v) if isinstance(v, list) else v}\n")
    err_path = os.path.join(scratch, "harness.log")
    with open(err_path, "w") as err:
        p = subprocess.Popen(jvm(classes, scratch, "4g") + ["perfbench.Harness", plan_path, out_path],
                             cwd=scratch, stdout=err, stderr=err)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(err_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: harness exited with {rc}")
    with open(out_path) as f:
        return [json.loads(line) for line in f if line.strip()]


def write_oracles(names, cat, data_dir, out_dir):
    """Run each query's oracle SQL in DuckDB and write the result to
    `<out_dir>/<name>.parquet`. Returns {name: error} for SQL that failed."""
    from oracle import Oracle
    os.makedirs(out_dir, exist_ok=True)
    ora = Oracle(data_dir)
    errors = {}
    try:
        for name in names:
            if cat[name][1] is not None:
                try:
                    ora.write(cat[name][1], os.path.join(out_dir, f"{name}.parquet"))
                except Exception as e:  # noqa: BLE001 - reported as a failed check
                    errors[name] = f"oracle SQL failed: {e}"
    finally:
        ora.close()
    return errors


def verify(records, cat, data_dir, dump, oracle_errors=None):
    """Per distinct query, the reason its results are wrong; absent when
    they are right. Right means: no execution threw, every cold, timed and
    traced execution has the same fingerprint, and either the oracle's
    result has that fingerprint too, or a further execution, written out,
    has it and (where an oracle exists) equals the oracle cell by cell."""
    from oracle import Oracle
    execs, oracle_fp, written = {}, {}, {}
    for r in records:
        if r["k"] == "q" and r["phase"] in ("cold", "timed", "traced"):
            execs.setdefault(r["name"], []).append(r)
        elif r["k"] == "q" and r["phase"] == "verify":
            written[r["name"]] = r
        elif r["k"] == "oracle":
            oracle_fp[r["name"]] = r["fp"]
    bad = dict(oracle_errors or {})
    ora = None
    try:
        for name, rs in sorted(execs.items()):
            errs = [r["err"] for r in rs + [written.get(name, {})] if r.get("err")]
            fp = rs[0]["fp"]
            if name in bad:
                continue
            if errs:
                bad[name] = errs[0]
            elif any(r["fp"] != fp for r in rs):
                bad[name] = "fingerprint differs between executions"
            elif oracle_fp.get(name) == fp:
                continue
            elif name not in written:
                bad[name] = "oracle fingerprint differs and no written result"
            elif written[name]["fp"] != fp:
                bad[name] = "fingerprint differs between executions"
            elif cat[name][1] is not None:
                ora = ora or Oracle(data_dir)
                why = ora.compare(ora.expected(cat[name][1]), os.path.join(dump, name))
                if why:
                    bad[name] = why
    finally:
        if ora:
            ora.close()
    return execs, {n: why for n, why in bad.items() if n in execs}


def failures(execs, bad):
    """Executions counted as failed: every cold, timed or traced execution
    of a query whose result is wrong or that threw."""
    return sum(len(rs) for n, rs in execs.items() if n in bad)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--records", metavar="FILE",
                    help="also write the harness records (queries, spans, counters) here")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args(argv)
    if a.selftest:
        import unittest
        suite = unittest.defaultTestLoader.discover(os.path.join(HERE, "tests"), top_level_dir=HERE)
        return 0 if unittest.TextTestRunner(verbosity=1).run(suite).wasSuccessful() else 1
    if not a.workload:
        ap.error("--workload is required")

    root = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    work = os.path.join(root, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return bench(a, root, build_dir, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def bench(a, root, build_dir, work):
    t = time.time()
    classes = build.build(root, build_dir)
    build_s = time.time() - t
    cat = catalog(classes, work)
    spec = workloads.WORKLOADS[a.workload]
    missing = [n for n in spec["queries"] + spec["warmup"] if n not in cat]
    if missing:
        raise SystemExit(f"perfbench: queries not declared by the program: {missing}")
    n_passes = workloads.passes(a.seconds, a.workload)
    orders = workloads.schedule(a.workload, a.seed, n_passes)

    import datagen
    data = os.path.join(work, "data")
    t = time.time()
    datagen.write(data, a.seed, spec["sf"])
    datagen_s = time.time() - t

    cores = os.cpu_count() or 1
    nproc = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else cores
    scratch = os.path.join(work, "scratch")
    dump = os.path.join(work, "dump")
    oracle_dir = os.path.join(work, "oracle")
    t = time.time()
    oracle_errors = write_oracles(sorted(set(orders[0])), cat, data, oracle_dir)
    oracle_s = time.time() - t
    plan = dict(data=data, scratch=scratch, dump=dump, oracle=oracle_dir, cores=nproc,
                trace=a.trace, setups=5, cold=spec["cold"], warmup=spec["warmup"],
                passes=orders)
    t, st0 = time.time(), steal_s()
    records = run_harness(classes, plan, scratch)
    harness_s, steal = time.time() - t, steal_s() - st0
    if a.records:
        with open(a.records, "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in records)
    execs, bad = verify(records, cat, data, dump, oracle_errors)
    for name, why in sorted(bad.items()):
        log(f"FAIL {name}: {why}")
    attempted = sum(len(rs) for rs in execs.values())
    failed = failures(execs, bad)

    info = dict(workload=a.workload, seed=a.seed, cores=cores, nproc=nproc,
                scratch_root=scratch, build_s=round(build_s, 3),
                datagen_s=round(datagen_s, 3), oracle_s=round(oracle_s, 3),
                harness_s=round(harness_s, 3), harness_steal_s=round(steal, 3),
                setup_cycles_s=[r["s"] for r in records if r["k"] == "setup"],
                pass_s={ph: [round(r["s"], 3) for r in records
                             if r["k"] == "pass" and r["phase"] == ph]
                        for ph in ("cold", "timed")},
                timed_cpu_s=round(sum(r["cpu_s"] for r in records
                                      if r["k"] == "q" and r["phase"] == "timed"), 3),
                jvm={k: r[k] for r in records if r["k"] == "jvm" for k in ("gc_s", "jit_s")},
                sf=spec["sf"], passes=n_passes,
                queries=len(spec["queries"]),
                failed_frac=failed / attempted if attempted else 1.0)
    m, more = (metrics.per_layer(records, nproc) if a.trace else metrics.end_to_end(records))
    info.update(more)
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": not bad and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
