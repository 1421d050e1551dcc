"""Metric arithmetic: percentiles, span self time, and the assembly of the
end-to-end and per-layer metrics from the runner's result file."""
import json
import math
import statistics
from collections import defaultdict

STAGES = ["transcripts", "mentions", "edges", "triples", "nodes", "crf_mentions",
          "scored", "eval_tokens", "eval_gold", "eval_pred", "mention_eval",
          "eval_gold_subclass", "subclass_eval", "dup_pairs", "dup_clusters",
          "splits", "curation"]
ROUTES = ["all", "mention_eval", "subclass_eval", "curation"]
SPARK = ["jobs", "stages", "tasks", "sched_delay_ms", "task_p50_ms", "task_max_ms",
         "gc_ms", "shuffle_read_mb", "fetch_wait_ms", "input_mb", "output_mb",
         "task_failures", "spill_mb"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, p):
    """Nearest-rank percentile, p in [0, 100]."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def tail_pct(n):
    """The highest of the usual percentiles with at least ten samples
    beyond it, or None when there are fewer than 20 samples."""
    for p in (99.9, 99, 95, 90, 80, 75, 50):
        if round(n * (100 - p) / 100, 9) >= 10:
            return p
    return None


def self_times(spans):
    """{span id: self time in ns}: a span's duration minus the part of it
    covered by its children (overlapping children are counted once)."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append((s["start_ns"], s["end_ns"]))
    out = {}
    for s in spans:
        covered, cur_s, cur_e = 0, None, None
        for a, b in sorted(children.get(s["id"], ())):
            a, b = max(a, s["start_ns"]), min(b, s["end_ns"])
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end_ns"] - s["start_ns"]) - covered
    return out


def read_spans(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def end_to_end(res):
    """The end-to-end metrics of one untraced run."""
    reps = res["reps"]
    wall = median([r["wall_s"] for r in reps])
    return {
        "setup_s": (res["setup_s"], "s"),
        "wall_s": (wall, "s"),
        "turns_per_s": (res["turns"] / wall, "turns/s"),
        "cpu_s": (median([r["spark"]["cpu_s"] for r in reps]), "s"),
        "shuffle_mb": (median([r["spark"]["shuffle_mb"] for r in reps]), "MB"),
        "heap_peak_mb": (median([r["heap_peak_mb"] for r in reps]), "MB"),
    }


def per_layer(res, spans, gen_s):
    """The per-layer metrics of one traced run. A layer the workload does
    not exercise reads 0."""
    m = {}
    reps, traced = res["reps"], res.get("traced_reps", [])
    replay = res.get("replay", {})

    by_name = defaultdict(list)
    selfs = self_times(spans)
    for s in spans:
        by_name[s["name"]].append(s)

    def dur_ms(name):
        return sum(s["end_ns"] - s["start_ns"] for s in by_name[name]) / 1e6

    conv_us = [(s["end_ns"] - s["start_ns"]) / 1e3 for s in by_name["kgpipeline.conv"]]
    pairs = replay.get("kgpipeline.pairs", 0.0)
    skipped = replay.get("kgpipeline.pairs_skipped", 0.0)
    m.update({
        "kgpipeline.conv_p50_us": (pct(conv_us, 50), "us"),
        "kgpipeline.conv_p99_us": (pct(conv_us, 99), "us"),
        "kgpipeline.convs": (replay.get("kgpipeline.convs", 0.0), "count"),
        "kgpipeline.self_ms": (sum(selfs[s["id"]] for s in by_name["kgpipeline.conv"]) / 1e6, "ms"),
        "kgpipeline.pairs": (pairs, "count"),
        "kgpipeline.pairs_skipped": (skipped, "count"),
        "kgpipeline.skip_ratio": (skipped / (pairs + skipped) if pairs + skipped else 0.0, "ratio"),
        "kgpipeline.combined_ms": (dur_ms("kgpipeline.combined"), "ms"),
        "kgpipeline.combined_calls": (replay.get("kgpipeline.combined_calls", 0.0), "count"),
        "textops.segment_ms": (dur_ms("textops.segment"), "ms"),
        "textops.tokens": (replay.get("textops.tokens", 0.0), "count"),
        "tag.gazetteer_ms": (dur_ms("tag.gazetteer"), "ms"),
        "tag.mentions": (replay.get("tag.mentions", 0.0), "count"),
        "crf.viterbi_ms": (dur_ms("crf.viterbi"), "ms"),
        "crf.sentences": (res.get("crf", {}).get("crf.sentences", 0.0), "count"),
        "depgraph.parse_ms": (dur_ms("depgraph.parse"), "ms"),
        "depgraph.sentences": (replay.get("depgraph.sentences", 0.0), "count"),
        "relationscoring.score_ms": (dur_ms("relationscoring.score"), "ms"),
        "relationscoring.scored_pairs": (replay.get("relationscoring.scored_pairs", 0.0), "count"),
    })

    for k in SPARK:
        unit = "ms" if k.endswith("_ms") else "MB" if k.endswith("_mb") else "count"
        m[f"spark.{k}"] = (median([r["spark"][k] for r in reps]), unit)

    mat = res.get("materialize", {})
    for st in STAGES:
        m[f"stages.{st}.wall_s"] = (mat.get("stages", {}).get(st, {}).get("task_s", 0.0), "s")
    for rt in ROUTES:
        m[f"stages.route.{rt}.wall_s"] = (mat.get("routes", {}).get(rt, 0.0), "s")
    m["stages.wall_s"] = (mat.get("wall_s", 0.0), "s")
    m["stages.jobs"] = (mat.get("spark", {}).get("jobs", 0.0), "count")
    m["stages.rows"] = (mat.get("rows", 0), "count")
    m["stages.resume_skipped"] = (mat.get("resume_skipped", 0), "count")
    m["stages.resume_s"] = (mat.get("resume_s", 0.0), "s")

    batch_ms = [x for r in reps for x in r.get("batch_ms", [])]
    m.update({
        "streaming.batches": (median([r.get("batches", 0) for r in reps]), "count"),
        "streaming.state_rows": (median([r.get("state_rows", 0.0) for r in reps]), "count"),
        "streaming.state_mb": (median([r.get("state_mb", 0.0) for r in reps]), "MB"),
        "streaming.evicted_rows": (median([r.get("evicted_rows", 0.0) for r in reps]), "count"),
        "streaming.batch_p50_ms": (pct(batch_ms, 50), "ms"),
        "streaming.batch_p90_ms": (pct(batch_ms, 90), "ms"),
        # the engine's own per-batch phases (median over a stream's batches)
        "streaming.addbatch_ms": (median([r.get("engine_ms", {}).get("addBatch", 0.0)
                                          for r in reps]), "ms"),
        "streaming.log_commit_ms": (median([r.get("engine_ms", {}).get("walCommit", 0.0) +
                                            r.get("engine_ms", {}).get("commitOffsets", 0.0)
                                            for r in reps]), "ms"),
    })

    tps1 = 0.0
    eff = 0.0
    if res.get("wall_1core_s"):
        tps1 = res["turns"] / median(res["wall_1core_s"])
        tps_n = res["turns"] / median([r["wall_s"] for r in reps])
        eff = tps_n / tps1 / res["cpus"]
    m["scaling.turns_per_s_1"] = (tps1, "turns/s")
    m["scaling.efficiency"] = (eff, "ratio")

    m["trace.overhead_s"] = (median([r["wall_s"] for r in traced]) -
                             median([r["wall_s"] for r in reps]) if traced else 0.0, "s")
    m["trace.spans"] = (float(len(spans)), "count")
    m["bench.gen_s"] = (gen_s, "s")
    m["bench.cold_session_s"] = (res["session_scan_s"][0], "s")
    return m
