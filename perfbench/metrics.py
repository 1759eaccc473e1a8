"""Metrics from a harness artifact (artifact.json, spans.jsonl).

End to end (untraced run): set-up time, throughput, median op time, CPU per
op and heap after a full GC. Per layer (traced run): the spans around the
program's public functions and Spark's own counters; a workload reports
the layers it reaches, and run.py prints 0 for the others. The value pairs
are (value, unit).

Wall times in the end-to-end metrics are corrected for host CPU steal: a
wall time is multiplied by 1 - s, where s is the share of the CPU time the
guest wanted that the host gave to other tenants over that interval
(/proc/stat: steal / (busy + steal)). On a shared 4-vCPU VM
s ranged up to 48% between otherwise identical runs; over the accepted
sets of ten runs the correction narrowed the spread of throughput from
0.09-0.10 to 0.05-0.06 (scene-wind) and from 0.11-0.30 to 0.08-0.13
(query-mix), see README. The raw figures stay in the run record.
"""
import collections
import json
import os

import stats

MIB = 1048576.0

# one query per layer the query-mix list reaches only through its queries
QUERY_LAYERS = {"operators.inversion": "q16_invert_dualpol",
                "operators.histogram": "q42_grad_hist"}


def ops_of(art, label, kind=None):
    for p in art["phases"]:
        if p["label"] == label:
            return p, [o for o in p["ops"] if kind is None or o["kind"] == kind]
    raise KeyError(label)


def counts(art, faults=frozenset()):
    """Ops attempted in the measured phase, and those that failed: raised,
    or belong to a query whose check fails by a known fault."""
    ops = [o for p in art["phases"] for o in p["ops"]]
    return len(ops), sum(1 for o in ops if not o["ok"] or o.get("query") in faults)


def unstolen(wall_s, steal_share):
    return wall_s * (1.0 - steal_share)


def end_to_end(art):
    phase, ops = ops_of(art, "timed")
    n = len(ops)
    setup = art["setup"]
    return {
        "setup_s": (unstolen(setup["setup_s"], setup["steal_share"]), "s"),
        "throughput": (n / unstolen(phase["wall_s"], phase["steal_share"]), "op/s"),
        "op_p50_s": (stats.median([unstolen(o["wall_s"], o["steal_share"]) for o in ops]), "s"),
        "cpu_s_per_op": (phase["cpu_s"] / n, "s"),
        "heap_mb": (art["heap_mb"], "MiB"),
    }


def op_walls(art):
    """Steal-corrected wall time of every timed op, for pooling across runs."""
    _, ops = ops_of(art, "timed")
    return [unstolen(o["wall_s"], o["steal_share"]) for o in ops]


def raw_end_to_end(art):
    """The same figures without the steal correction, for the run record."""
    phase, ops = ops_of(art, "timed")
    return {"setup_s": art["setup"]["setup_s"],
            "throughput": len(ops) / phase["wall_s"],
            "op_p50_s": stats.median([o["wall_s"] for o in ops]),
            "steal_share": phase["steal_share"]}


def load_spans(out):
    with open(os.path.join(out, "spans.jsonl")) as f:
        return [json.loads(x) for x in f]


def self_times(spans):
    """Span duration minus the part its children cover, summed per name."""
    kids = collections.defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    total = collections.Counter()
    for s in spans:
        covered = sum(c["end_s"] - c["start_s"] for c in kids[s["id"]])
        total[s["name"]] += (s["end_s"] - s["start_s"]) - covered
    return dict(total)


def group(o, name, key):
    return o["groups"].get(name, {}).get(key, 0.0)


def med(xs):
    xs = list(xs)
    return stats.median(xs) if xs else 0.0


def per_layer(art, out):
    """Per-layer metrics of a traced run, {name: (value, unit)}, for the
    layers this workload reaches, and the self time of every span name."""
    # plain ops are the reference: the overhead baseline and the source of
    # Spark's counters; traced and layer-by-layer ops carry the spans
    _, ref = ops_of(art, "traced", "plain")
    _, traced = ops_of(art, "traced", "traced")
    _, layered = ops_of(art, "traced", "layers")
    spans = load_spans(out)
    by_op = collections.defaultdict(dict)
    for s in spans:
        by_op[s["op"]][s["name"]] = s["end_s"] - s["start_s"]
    n = len(ref)
    cores = art["cores"]

    def span_med(ops, name):
        return med(by_op[o["op"]][name] for o in ops if name in by_op[o["op"]])

    m = {
        "queries.build_s": (span_med(traced, "queries.build"), "s"),
        "queries.plan_s": (span_med(traced, "queries.plan"), "s"),
        "queries.exec_s": (span_med(traced, "queries.exec"), "s"),
        "queries.eager_jobs_per_op": (sum(o["eager_jobs"] for o in ref) / n, "count"),
        "queries.exchanges_per_op": (sum(o["exchanges"] for o in traced) / len(traced), "count"),
        "spark.jobs_per_op": (sum(o["jobs"] for o in ref) / n, "count"),
        "spark.stages_per_op": (sum(o["stages"] for o in ref) / n, "count"),
        "spark.tasks_per_op": (sum(o["tasks"] for o in ref) / n, "count"),
        "spark.task_busy_ratio": (sum(o["task_run_s"] for o in ref) / (sum(o["wall_s"] for o in ref) * cores), "ratio"),
        "spark.shuffle_write_mb_per_op": (sum(o["shuffle_write_b"] for o in ref) / n / MIB, "MiB"),
        "spark.shuffle_read_mb_per_op": (sum(o["shuffle_read_b"] for o in ref) / n / MIB, "MiB"),
        "spark.spill_mb_per_op": (sum(o["spill_b"] for o in ref) / n / MIB, "MiB"),
        "spark.executor_cpu_s_per_op": (sum(o["executor_cpu_s"] for o in ref) / n, "s"),
        "jvm.gc_s_per_op": (sum(o["gc_s"] for o in ref) / n, "s"),
        "core.cache_mb": (sum(o["cache_mb"] for o in ref) / n, "MiB"),
        "core.release_s": (sum(o["release_s"] for o in ref) / n, "s"),
        "trace.overhead_ratio": (med(o["wall_s"] for o in traced) / med(o["wall_s"] for o in ref) - 1.0, "ratio"),
    }
    setup = art["setup"]
    if "lut_build_s" in setup:           # scene-streaks builds no LUT
        m["models.lut_build_s"] = (setup["lut_build_s"], "s")
        m["models.lut_mb"] = (setup["lut_mb"], "MiB")
    # scene workloads: every layer of the layer-by-layer ops
    for name in sorted({k for o in layered for k in by_op[o["op"]] if k != "op"}):
        m[f"{name}_s"] = (span_med(layered, name), "s")
    if layered:
        m["sources.read_mb_per_s"] = (med(o["read_bytes"] / MIB / by_op[o["op"]]["sources.read"]
                                          for o in layered), "MiB/s")
        m["sink.output_mb_per_op"] = (med(o["output_bytes"] / MIB for o in layered), "MiB")
    # query-mix: every query, and the layers it reaches through one query each
    for q in sorted({o["query"] for o in traced if "query" in o}):
        m[f"query.{q}.p50_s"] = (med(by_op[o["op"]]["op"] for o in traced if o["query"] == q), "s")
    for layer, q in QUERY_LAYERS.items():
        if any(o.get("query") == q for o in traced):
            m[f"{layer}_s"] = (med(by_op[o["op"]]["queries.exec"] for o in traced if o["query"] == q), "s")
    # the inversion kernel: a layer of its own on scene-wind, q16 on query-mix
    if any("operators.inversion" in by_op[o["op"]] for o in layered):
        inv = [(by_op[o["op"]]["operators.inversion"], o["px"] / 1e6,
                group(o, "operators.inversion", "executor_cpu_s")) for o in layered]
    else:
        q = QUERY_LAYERS["operators.inversion"]
        inv = [(by_op[o["op"]]["queries.exec"], o["output_rows"] / 1e6, group(o, "exec", "executor_cpu_s"))
               for o in traced if o.get("query") == q]
    if inv:
        m["operators.inversion_mpx_per_s"] = (med(px / t for t, px, _ in inv), "Mpx/s")
        m["operators.inversion_cpu_s_per_mpx"] = (med(c / px for _, px, c in inv), "s/Mpx")
    return m, self_times(spans)
