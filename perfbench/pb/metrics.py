"""Metric definitions and the summary rules shared by run.py and compare.py."""
import math
import statistics

WORKLOADS = ("pyramid", "queries")

# (name, unit, better) reported by every untraced run
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("wall_s", "s", "lower"),
]

QUERY_MODULES = ["Relational", "LlmOps", "Stats", "TextSearch", "Retrieval", "Curation",
                 "Profiling", "VectorStats", "ZarrPipeline", "StreamingDemo", "SimJoin",
                 "Layout", "Pq", "VectorIngest", "MergeOps"]
KERNELS = ["minhash_sig", "simhash32", "hyperplane_bucket", "cosine_sim", "bpe_encode"]
VERBS = ["merge", "update", "delete", "point", "scan", "travel", "changes"]


def _layer_metrics():
    m = [("CziReader.open_ms", "ms", "lower"),
         ("CziSource.s", "s", "lower"), ("CziSource.shuffle_mb", "MB", "lower")]
    m += [(f"ZarrIO.write_s.l{i}", "s", "lower") for i in range(4)]
    m += [(f"ZarrIO.read_s.l{i}", "s", "lower") for i in range(3)]
    m += [("ZarrIO.write_mb", "MB", "lower")]
    m += [(f"Downsample.s.l{i}", "s", "lower") for i in range(1, 4)]
    m += [(f"Rechunk.shuffle_mb.l{i}", "MB", "lower") for i in range(1, 4)]
    m += [("Downsample.kernel_mvox_s", "Mvox/s", "higher"),
          ("ZeissJob.driver_gap_s", "s", "lower"),
          ("ZeissJob.gib_per_min", "GiB/min", "higher"),
          ("zarr.stored_ratio", "ratio", "lower"),
          ("Blosc.compress_mib_s", "MiB/s", "higher"),
          ("Blosc.decompress_mib_s", "MiB/s", "higher"),
          ("Blosc.ratio", "ratio", "higher")]
    for mod in QUERY_MODULES:
        m += [(f"queries.{mod}.run_s", "s", "lower"), (f"queries.{mod}.exec_s", "s", "lower"),
              (f"queries.{mod}.jobs", "count", "lower"),
              (f"queries.{mod}.driver_gap_s", "s", "lower")]
    m += [(f"functions.{k}_krows_s", "krows/s", "higher") for k in KERNELS]
    m += [(f"GraftSql.{v}_ms", "ms", "lower") for v in VERBS]
    m += [("store.write_p50_ms", "ms", "lower"), ("store.write_tail_ms", "ms", "lower"),
          ("store.read_p50_ms", "ms", "lower"), ("store.read_tail_ms", "ms", "lower"),
          ("store.stored_ratio", "ratio", "lower"),
          ("IngestIndex.write_amp", "ratio", "lower"),
          ("IngestIndex.buckets_touched", "count", "lower"),
          ("IngestIndex.manifest_ms", "ms", "lower"),
          ("IngestIndex.versions", "count", "lower"),
          ("IngestIndex.dir_mb", "MB", "lower"),
          ("IngestIndex.compactions", "count", "lower")]
    m += [("queries.query_p50_s", "s", "lower"), ("queries.query_tail_s", "s", "lower"),
          ("jvm.heap_live_mb", "MB", "lower"), ("jvm.peak_rss_mb", "MB", "lower")]
    m += [("spark.jobs", "count", "lower"), ("spark.task_s", "s", "lower"),
          ("spark.gc_s", "s", "lower"), ("spark.shuffle_mb", "MB", "lower"),
          ("spark.spill_mb", "MB", "lower"), ("spark.driver_gap_s", "s", "lower"),
          ("spark.unattributed_task_s", "s", "lower"),
          ("trace.overhead_s", "s", "lower")]
    return m


PER_LAYER = _layer_metrics()


def tail(values):
    """(percentile, value, samples beyond): the highest whole percentile with
    at least 10 samples beyond it, by nearest rank. It is never below p50:
    with fewer than 20 samples the tail is the upper median."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        return 50, 0.0, 0
    p = max(50, min(99, math.floor(100 * (n - 10) / n)))
    rank = math.ceil(p / 100 * n) if n >= 20 else n // 2 + 1
    return p, s[rank - 1], n - rank


def median(values):
    return statistics.median(values) if values else 0.0


def end_to_end(raw):
    """End-to-end metrics from the JVM's raw samples (untraced runs)."""
    ops = [o["ms"] for o in raw["ops"]]
    p, t, beyond = tail(ops)
    kinds, names = {}, {}
    for o in raw["ops"]:
        kinds.setdefault(o["kind"], []).append(o["ms"])
        names.setdefault(o["name"], []).append(o["ms"])
    # one unit's wall, each operation at its median over the timed units:
    # a one-off stall of one query moves only that query's sample
    values = {
        "setup_s": median(raw["setup_s"]),
        "wall_s": sum(median(v) for v in names.values()) / 1000,
    }
    details = {"op_p50_ms": median(ops), "op_tail_ms": t, "op_tail_percentile": p,
               "op_tail_beyond": beyond, "heap_live_mb": raw["heap_live_mb"],
               "peak_rss_mb": raw["peak_rss_mb"], "ops": len(ops),
               "units": len(raw["units"]), "unit_s": [round(u["s"], 3) for u in raw["units"]],
               "setups": len(raw["setup_s"]),
               "kind_p50_ms": {k: round(median(v), 1) for k, v in sorted(kinds.items())},
               "name_p50_ms": {k: round(median(v), 1) for k, v in sorted(names.items())}}
    return values, details


def per_layer(raw):
    """Per-layer metrics from a traced run, plus details; layers the
    workload does not exercise read 0."""
    layers = dict(raw["layers"])
    traced = [u["s"] for u in raw["units"] if u["traced"]]
    details = {"traced_unit_s": median(traced),
               "query_modules_sum_s": sum(layers.get(f"queries.{m}.{k}", 0.0)
                                          for m in QUERY_MODULES for k in ("run_s", "exec_s"))}
    writes = [o["ms"] for o in raw["ops"] if o["kind"] in ("merge", "update", "delete")]
    reads = [o["ms"] for o in raw["ops"] if o["kind"] in ("point", "scan", "travel", "changes")]
    if writes:
        layers["store.write_p50_ms"] = median(writes)
        layers["store.write_tail_ms"] = tail(writes)[1]
    if reads:
        layers["store.read_p50_ms"] = median(reads)
        layers["store.read_tail_ms"] = tail(reads)[1]
    queries = [o["ms"] / 1000 for o in raw["ops"] if o["kind"] == "query"]
    if queries:
        layers["queries.query_p50_s"] = median(queries)
        layers["queries.query_tail_s"] = tail(queries)[1]
    layers["jvm.heap_live_mb"] = raw["heap_live_mb"]
    layers["jvm.peak_rss_mb"] = raw["peak_rss_mb"]
    return {name: float(layers.get(name, 0.0)) for name, _, _ in PER_LAYER}, details
