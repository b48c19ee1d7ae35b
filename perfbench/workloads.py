"""Workloads: which declared queries a run drives, in which order, on which input.

Every declared query belongs to one pool:
  stream  - starts at least one Structured Streaming query: the modules of
            `streamline.stream` except the two `OffsetReplay` consume loops,
            plus every `q_stream_*` query declared elsewhere;
  llm     - the rest of `streamline.llm`;
  batch   - everything else.

Each workload times a fixed sample of its pools. The samples were drawn with
`draw` below: stratified by module, each module getting its share of the
sample by largest remainder, and within a module queries taken in the order
of a hash of their names. Queries over 2 s on 4 cores at sf0.1, or whose
DuckDB oracle took over 0.5 s at sf0.01, were not eligible, to keep a run
inside its time budget. The samples are frozen here, so a change that adds
or removes queries elsewhere does not change what the benchmark times, and
runs with different seeds time the same queries. The seed sets the
generated input rows and the order of every pass.
"""
import hashlib
import random

WORKLOADS = {
    "batch_short": dict(
        pools=("batch", "llm"), sf=0.1, pass_s=2.2, cold=4,
        warmup=["q_udtf_explode", "q_fn_format"],
        queries=["q_agg_hazard", "q_fn_variant", "q_llm_quality", "q_sort_multi",
                 "q_sql_tpch3", "q_win_dist"],
        why="queries that start no stream (batch and llm modules) on sf0.1 tables: "
            "planning and scheduling cost per query dominates, then operator CPU"),
    "stream_stateful": dict(
        pools=("stream",), sf=0.1, pass_s=4.4, cold=3,
        warmup=["q_sink_foreachbatch"],
        queries=["q_stream_cumulate", "q_stream_rocksdb_reader", "q_stream_tws"],
        why="Structured Streaming queries: micro-batch loop, state stores and checkpoint "
            "log, which the batch workload never runs"),
}


def pool_of(name, module):
    if name.startswith("q_stream_") or (
            module.startswith("streamline.stream.") and not module.endswith(".OffsetReplay")):
        return "stream"
    if module.startswith("streamline.llm."):
        return "llm"
    return "batch"


def _key(name):
    return hashlib.sha256(name.encode()).hexdigest()


def draw(catalog, pools, k, eligible=lambda name: True):
    """Stratified sample of about k names of the given pools from a catalog
    {name: module}: each module's share of k follows its share of the pools
    (largest remainder); within a module the eligible names are taken in
    hash order. Deterministic."""
    by_module = {}
    for name, module in catalog.items():
        if pool_of(name, module) in pools:
            by_module.setdefault(module, []).append(name)
    total = sum(len(v) for v in by_module.values())
    mods = sorted(by_module)
    quota = {m: k * len(by_module[m]) / total for m in mods}
    take = {m: int(quota[m]) for m in mods}
    for m in sorted(mods, key=lambda m: (take[m] - quota[m], m))[:k - sum(take.values())]:
        take[m] += 1
    out = []
    for m in mods:
        out += sorted(filter(eligible, by_module[m]), key=_key)[:take[m]]
    return sorted(out)


def passes(seconds, workload):
    """Whole passes a run makes: the run length over the nominal pass time
    of the workload, at least one. Fixed for a given --seconds, so every
    run times the same number of queries."""
    return max(1, round(seconds / WORKLOADS[workload]["pass_s"]))


def schedule(workload, seed, n_passes):
    """The seeded order of each untimed warm pass (`cold` of them), then
    of each timed pass over the workload's sample."""
    rng = random.Random(seed)
    orders = []
    for _ in range(WORKLOADS[workload]["cold"] + n_passes):
        order = sorted(WORKLOADS[workload]["queries"])
        rng.shuffle(order)
        orders.append(order)
    return orders
