"""Turns the harness result and the check verdicts into the benchmark's
one-line JSON report.

End-to-end metrics (--trace 0) are medians over the run's repetitions
after the first; per-layer metrics (--trace 1) come from the listener
totals of the same untraced repetitions (counts, amplification) and
from the one traced pass (per-layer walls, tasks and bytes, coverage,
overhead).
"""

import glob
import json
import os
import statistics

import spans as span_files

CORES = 4

DUMP_LAYERS = ["ingest.parse", "subset", "transform", "ingest.encode", "store.write",
               "store.read", "ingest.restore_parse", "cli.restore_write"]
ACC_KEYS = ["jobs", "tasks", "task_s", "max_task_s", "input_mb", "shuffle_mb", "spill_mb"]

HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def units(kind):
    """Metric name -> unit of BENCHMARK.json's `end_to_end` or `per_layer`."""
    return {m["name"]: m["unit"] for m in SPEC[kind]}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _sum_accs(accs):
    tot = {k: 0.0 for k in ACC_KEYS}
    for a in accs:
        for k in ACC_KEYS:
            tot[k] = max(tot[k], a[k]) if k == "max_task_s" else tot[k] + a[k]
    return tot


def _dir_bytes(pattern):
    return sum(os.path.getsize(p) for p in glob.glob(pattern, recursive=True))


def steady(result):
    """The loop's repetitions after the first, whose JVM is still warming
    up (all of them when there is only one).
    """
    its = result["iterations"]
    return its[1:] or its


def end_to_end(gen_s, facts, result, measured):
    its = steady(result)
    jobs = [sum(it["walls"].values()) for it in its]
    return {
        "setup_s": gen_s + result["session_s"] + sum(result["warmup_s"]),
        "job_s": _median(jobs),
        "rows_per_s": _median([facts["rows"] / j for j in jobs]),
        "stored_bytes_per_text_byte": measured["stored_bytes_per_text_byte"],
    }


def per_layer(workload, facts, result, work):
    its = steady(result)
    m = dict.fromkeys(units("per_layer"), 0.0)
    # whole job and per command, from the untraced repetitions' listener
    walls = [sum(it["walls"].values()) for it in its]
    totals = [_sum_accs(it["layers"].values()) for it in its]
    m["pipeline.wall_s"] = _median(walls)
    for k in ACC_KEYS:
        m[f"pipeline.{k}"] = _median([t[k] for t in totals])
    m["pipeline.core_util"] = _median([t["task_s"] / (w * CORES) for t, w in zip(totals, walls)])
    traced = result["traced"]
    if workload == "corpus_chain":
        wall = sum(traced["walls"].values())
        spans = span_files.from_stage_lines(traced["lines"], wall)
        span_files.write(os.path.join(work, "spans.jsonl"), spans)
        own = span_files.self_times(spans)
        stages = [s["name"] for s in spans if s["parent"] == 1]
        for layer in stages:
            acc = traced["layers"].get(layer, {})
            m[f"{layer}.wall_s"] = own[layer]
            for k in ("task_s", "jobs", "tasks", "max_task_s", "shuffle_mb"):
                if f"{layer}.{k}" in m:
                    m[f"{layer}.{k}"] = acc.get(k, 0.0)
        m["trace.coverage"] = span_files.coverage(spans, stages)
        m["trace.overhead"] = wall / m["pipeline.wall_s"]
        return m
    for cmd in ("create", "restore"):
        m[f"cli.{cmd}.wall_s"] = _median([it["walls"][cmd] for it in its])
        m[f"cli.{cmd}.jobs"] = _median([it["layers"].get(f"cli.{cmd}", {}).get("jobs", 0)
                                        for it in its])
    main = os.path.join(work, "inputs", "main")
    source_bytes = facts.get("file_bytes") or _dir_bytes(os.path.join(main, "tables", "*"))
    m["ingest.parse.read_amplification"] = _median(
        [it["layers"].get("cli.create", {}).get("input_mb", 0) * 1e6 / source_bytes for it in its])
    m["store.read.read_amplification"] = _median([
        sum(it["layers"].get("cli.restore", {}).get(k, 0) for k in ("input_mb", "shuffle_mb"))
        * 1e6 / _dir_bytes(os.path.join(work, "store", it["label"], "*.dump")) for it in its])
    spans = span_files.read(os.path.join(work, "spans.jsonl"))
    own = span_files.self_times(spans)
    for layer in DUMP_LAYERS:
        acc = traced["layers"].get(layer)
        if acc is None:
            continue
        m[f"{layer}.wall_s"] = own.get(layer, 0.0)
        for k in ("task_s", "jobs", "tasks", "max_task_s", "input_mb", "shuffle_mb"):
            m[f"{layer}.{k}"] = acc[k]
        m[f"{layer}.rows_out"] = traced["rows"].get(layer, 0)
    m["store.codec.wall_s"] = traced["codec"]["wall_s"]
    m["store.codec.encode_mb_s"] = traced["codec"]["encode_mb_s"]
    m["store.codec.decode_mb_s"] = traced["codec"]["decode_mb_s"]
    root = next(s for s in spans if s["parent"] == -1)
    m["trace.coverage"] = span_files.coverage(spans, DUMP_LAYERS)
    m["trace.overhead"] = (root["end"] - root["start"]) / m["pipeline.wall_s"]
    return m


def report(workload, trace, gen_s, facts, result, verdicts, measured, work):
    failures = [f for it in result["iterations"] for f in it["failures"]]
    commands = sum(len(it["walls"]) for it in result["iterations"])
    bad = [v for v in verdicts if not v[1]]
    if trace:
        values, kind = per_layer(workload, facts, result, work), "per_layer"
    else:
        values, kind = end_to_end(gen_s, facts, result, measured), "end_to_end"
    return {
        "correct": not failures and not bad,
        "attempted": commands + len(verdicts),
        "failed": len(failures) + len(bad),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units(kind).items()},
        "problems": failures + [f"{name}: {detail}" for name, _, detail in bad],
    }
