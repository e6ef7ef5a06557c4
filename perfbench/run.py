#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload {pyramid,queries} --seed N \
        --seconds S --trace {0,1}

Builds the engine from source on first use (into .bench_build/), makes the
workload's seeded inputs (cached by seed and size, outside every timing),
runs the workload in one JVM for about S seconds, checks its outputs, and
prints {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones. The full
record, details included, is also kept under .bench_build/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from pb import build, checks, gen, metrics  # noqa: E402

BUILD = build.BUILD

# One representative query per module of SparkEntry.allDefs.
PANEL = [
    "q03_join_revenue_by_region", "q32_cosine_topk", "q44_percentiles", "q47_lang_id",
    "q71_bpe_encode", "q69_inverted_index", "q75_pivot", "q76_embedding_covariance",
    "q43_zarr_pyramid", "q33_streaming_tumbling", "q105_similarity_join",
    "q107_zorder_layout", "q109_ivf_pq_ann", "q114b_streaming_vector_ingest",
    "q137_sql_time_travel_read",
]
QUERY_SCALE = 0.01
STORE_ROWS = 50_000
STORE_STATEMENTS = 16
STACK_ZYX = (512, 512, 512)
WARM_ZYX = (32, 128, 128)
CACHE_KEEP = 3
# a run (first-run build aside) ends within this many seconds, or fails
RUN_LIMIT_S = 170

GEN_DIGEST = hashlib.sha256(b"".join(
    open(os.path.join(HERE, p), "rb").read()
    for p in ("pb/gen.py", "scala/perfbench/CziGen.scala"))).hexdigest()[:10]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java(args, cwd, log, timeout=RUN_LIMIT_S, heap="3g"):
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseG1GC", "-XX:+AlwaysPreTouch",
           "-XX:-UsePerfData",
           "-XX:+UseTransparentHugePages", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(cwd, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "perfbench.Main", *args]
    os.makedirs(os.path.join(cwd, "tmp"), exist_ok=True)
    with open(log, "ab") as f:
        r = subprocess.run(cmd, cwd=cwd, stdout=f, stderr=f, timeout=timeout)
    if r.returncode != 0:
        with open(log, "rb") as f:
            sys.stderr.write(f.read()[-4000:].decode(errors="replace"))
        raise RuntimeError(f"JVM exited with {r.returncode}: {' '.join(args[:2])}")


def cached(kind, key, make):
    """Path of the cached input `kind-key`, made by `make(path)` on a miss.
    The key also carries a digest of the generators, so a changed generator
    never serves stale inputs. Only the most recently used few entries of
    each kind are kept."""
    base = os.path.join(BUILD, "inputs")
    path = os.path.join(base, f"{kind}-{key}-{GEN_DIGEST}")
    if not os.path.exists(path):
        os.makedirs(base, exist_ok=True)
        entries = sorted((e for e in os.listdir(base) if e.startswith(kind + "-")
                          and not e.endswith(".tmp")),
                         key=lambda e: os.path.getmtime(os.path.join(base, e)), reverse=True)
        for old in entries[CACHE_KEEP - 1:]:
            shutil.rmtree(os.path.join(base, old), ignore_errors=True)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        make(tmp)
        os.rename(tmp, path)
        # the new input's write-back and the old ones' freed blocks are
        # flushed here, not during the timed work
        os.sync()
    os.utime(path)
    return path


def czi_input(seed, zyx, work, with_expected, deadline):
    def make(tmp):
        os.makedirs(os.path.join(tmp, "stack"))
        java(["gen-czi", os.path.join(tmp, "stack", "stack.czi"),
              os.path.join(tmp, "expected.json") if with_expected else "-",
              str(seed), *map(str, zyx)], work, os.path.join(work, "gen.log"),
             deadline - time.time())
    return cached("czi", f"{seed}-{'x'.join(map(str, zyx))}", make)


def prepare(args, work, cfg, deadline):
    """Adds the workload's inputs to the JVM config."""
    if args.workload == "queries":
        cfg["data"] = cached("tables", f"{args.seed}-{QUERY_SCALE}",
                             lambda d: gen.tables(args.seed, QUERY_SCALE, d))
        cfg["panel"] = PANEL
        cfg["orders"] = [gen.query_order(args.seed, PANEL, i) for i in range(64)]
        cfg["dump"] = os.path.join(work, "dump")
        if args.trace:
            # the store statement stream a traced run measures GraftSql and
            # IngestIndex with
            d = cached("store", f"{args.seed}-{STORE_ROWS}-{STORE_STATEMENTS}",
                       lambda d: gen.store_inputs(args.seed, STORE_ROWS, STORE_STATEMENTS, d))
            meta = json.load(open(os.path.join(d, "meta.json")))
            cfg.update(store_data=d, store_ddl=meta["ddl"],
                       store_check_after_write=meta["check_after_write"],
                       store_dump=os.path.join(work, "store-dump"))
    else:
        d = czi_input(args.seed, STACK_ZYX, work, True, deadline)
        warm = czi_input(args.seed, WARM_ZYX, work, False, deadline)
        cfg.update(data=d, stack_dir=os.path.join(d, "stack"),
                   warm_dir=os.path.join(warm, "stack"),
                   expected=os.path.join(d, "expected.json"))


def check(args, cfg, raw):
    """Runs the workload's output check; returns (results, extra failures)."""
    if args.workload == "queries":
        res = checks.oracle(cfg["data"], cfg["dump"], raw["extra"].get("oracle_sql", {}),
                            PANEL, os.path.join(BUILD, "oracle-cache"))
        runs = {}
        for o in raw["ops"]:
            runs[o["name"]] = runs.get(o["name"], 0) + 1
        failed = sum(runs.get(n, 0) for n, v in res.items() if v != "OK")
        if args.trace:
            store = checks.store_replay(cfg["store_data"], cfg["store_dump"],
                                        cfg["store_check_after_write"])
            res.update({f"store.{k}": v for k, v in store.items()})
            failed += sum(1 for v in store.values() if v != "OK")
        return res, failed
    # pyramid: checked inside the JVM against the generator's level sums
    return {"levels": "OK" if not raw["errors"] else "; ".join(raw["errors"])[:500]}, 0


def summarize(raw, trace, extra_failed=0):
    """The result line and its details from the JVM's raw samples."""
    failed = raw["failed"] + extra_failed
    attempted = max(1, raw["attempted"])
    if trace:
        values, details = metrics.per_layer(raw)
        units = {n: u for n, u, _ in metrics.PER_LAYER}
    else:
        values, details = metrics.end_to_end(raw)
        units = {n: u for n, u, _ in metrics.END_TO_END}
    details["failed_frac"] = failed / attempted
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}
    return out, details


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    build.build()
    deadline = time.time() + RUN_LIMIT_S
    run_id = f"{args.workload}-{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "runs", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        cfg = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "trace": bool(args.trace), "cpus": os.cpu_count() or 1, "work": work,
               "result": os.path.join(work, "result.json")}
        t0 = time.time()
        prepare(args, work, cfg, deadline)
        prepare_s = time.time() - t0
        with open(os.path.join(work, "config.json"), "w") as f:
            json.dump(cfg, f)
        t0 = time.time()
        java([os.path.join(work, "config.json")], work, os.path.join(work, "jvm.log"),
             deadline - time.time())
        jvm_s = time.time() - t0
        raw = json.load(open(cfg["result"]))
        results, extra_failed = check(args, cfg, raw)
        out, details = summarize(raw, bool(args.trace), extra_failed)
        details.update(seed=args.seed, workload=args.workload, trace=args.trace,
                       prepare_s=round(prepare_s, 3), jvm_s=round(jvm_s, 3),
                       check_s=round(time.time() - t0 - jvm_s, 3), checks=results, errors=raw["errors"][:20],
                       setup_samples_s=raw["setup_s"], phases_s=raw["phases_s"])
        os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
        with open(os.path.join(BUILD, "results", f"{run_id}.json"), "w") as f:
            json.dump({"details": details, "result": out}, f)
        if args.trace and os.path.exists(os.path.join(work, "trace.json")):
            shutil.copy(os.path.join(work, "trace.json"),
                        os.path.join(BUILD, "results", f"{run_id}.trace.json"))
        print(json.dumps({"details": details}))
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    try:
        main()
    except Exception as e:  # noqa: BLE001 - no result line on any failure
        sys.stderr.write(f"perfbench: {type(e).__name__}: {e}\n")
        sys.exit(1)
