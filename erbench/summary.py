"""Turns the raw samples one ErBench run writes into the reported metrics.

Pure functions only: `run.py` does the I/O, `test_summary.py` pins the
arithmetic (self time of nested spans, medians and sample counts, failed
operation counting, and the metric names against BENCHMARK.json).
"""

import statistics

# Verb spans of `churn`, each named after the layer it times.
VERB_LAYERS = ("remove", "replace", "audit", "merge")


def median(xs):
    """Median of the samples, 0.0 when there are none."""
    return float(statistics.median(xs)) if xs else 0.0


def duration(span):
    return span["end_s"] - span["start_s"]


def children(spans):
    out = {}
    for s in spans:
        out.setdefault(s["parent"], []).append(s)
    return out


def self_time(span, spans):
    """Span duration minus the time its child spans cover (overlapping
    children are counted once, and only inside the parent's interval)."""
    kids = sorted(
        (max(k["start_s"], span["start_s"]), min(k["end_s"], span["end_s"]))
        for k in children(spans).get(span["id"], [])
    )
    covered, cur_start, cur_end = 0.0, None, None
    for start, end in kids:
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        covered += cur_end - cur_start
    return duration(span) - covered


def inclusive(span, spans, key):
    """A span's own Spark cost plus that of every descendant span."""
    kids = children(spans)
    total, stack = 0.0, [span]
    while stack:
        s = stack.pop()
        total += s[key]
        stack.extend(kids.get(s["id"], []))
    return total


def named(spans, name):
    return [s for s in spans if s["name"] == name]


def counts(raw):
    """(attempted, failed): every timed operation and every output check is
    one attempt; a thrown operation or a failed check is one failure, and a
    run that aborted counts one more failure for the work it never did."""
    ops, checks = raw["ops"], raw["checks"]
    attempted = len(ops) + len(checks)
    failed = sum(1 for o in ops if not o["ok"]) + sum(1 for c in checks if not c["ok"])
    if raw.get("error") and failed == 0:
        attempted, failed = attempted + 1, 1
    return max(attempted, 1), failed


def cycles(raw):
    """Wall and Σ task CPU of each timed cycle: one `batch.run` per pass in
    `batch`; the verb spans inside `churn.cycle` in `churn` (checks run
    between verbs are not part of the cycle)."""
    spans = raw["spans"]
    by_id = {s["id"]: s for s in spans}
    if raw["workload"] == "batch":
        runs = [by_id[o["span"]] for o in raw["ops"] if o["name"] == "batch.run" and o["ok"]]
        return [(duration(s), inclusive(s, spans, "task_cpu_s")) for s in runs]
    out = []
    for cyc in named(spans, "churn.cycle"):
        verbs = [s for s in spans if s["parent"] == cyc["id"] and s["name"] != "untimed"]
        out.append((sum(duration(s) for s in verbs),
                    sum(inclusive(s, spans, "task_cpu_s") for s in verbs)))
    return out


def check_value(raw, name):
    vals = [c["value"] for c in raw["checks"] if c["name"] == name]
    return vals[-1] if vals else 0.0


def end_to_end(raw):
    """name -> (value, sample count)."""
    cyc = cycles(raw)
    setup = raw["setup_s"]
    base_run = raw["facts"].get("setup.base_run_s", 0.0)
    inputs = raw["input_bytes"]
    return {
        "setup_s": (median(setup) + base_run, len(setup)),
        "cycle_s": (median([w for w, _ in cyc]), len(cyc)),
        "task_cpu_s": (median([c for _, c in cyc]), len(cyc)),
        "f1": (check_value(raw, "f1"), 1),
        "storage_amp": (raw["run_dir_bytes"] / inputs if inputs else 0.0, 1),
    }


def layer_stats(spans, name, threads):
    """Self wall, jobs, CPU, shuffle and spill summed over spans of one name."""
    ss = named(spans, name)
    wall = sum(self_time(s, spans) for s in ss)
    cpu = sum(s["task_cpu_s"] for s in ss)
    return {
        "wall_s": wall,
        "task_cpu_s": cpu,
        "cpu_util": cpu / (wall * threads) if wall > 0 else 0.0,
        "jobs": float(sum(s["jobs"] for s in ss)),
        "shuffle_write_bytes": float(sum(s["shuffle_write_bytes"] for s in ss)),
        "spill_bytes": float(sum(s["spill_bytes"] for s in ss)),
    }


def per_layer(raw):
    """name -> value for every per-layer metric; layers a workload does not
    run read 0."""
    spans, facts, threads = raw["spans"], raw["facts"], raw["threads"]
    fact = lambda k: float(facts.get(k, 0.0))
    out = {}

    for layer, keep, extra in (
        ("blocking", ("wall_s", "task_cpu_s", "cpu_util", "jobs", "shuffle_write_bytes", "spill_bytes"),
         ("block_rows", "hot_keys", "pair_recall")),
        ("candidates", ("wall_s", "task_cpu_s", "shuffle_write_bytes"), ("pairs", "match_ratio")),
        ("scoring", ("wall_s", "task_cpu_s", "cpu_util", "jobs", "shuffle_write_bytes", "spill_bytes"),
         ("accept_ratio",)),
        ("cc", ("wall_s", "task_cpu_s", "cpu_util", "jobs", "shuffle_write_bytes"), ()),
    ):
        st = layer_stats(spans, layer, threads)
        out.update({f"{layer}.{k}": st[k] for k in keep})
        out.update({f"{layer}.{k}": fact(f"{layer}.{k}") for k in extra})
    out["cc.iterations"] = float(sum(s["attrs"].get("iterations", 0.0) for s in named(spans, "cc")))

    out["snapshots.commit_wall_s"] = sum(duration(s) for s in named(spans, "snapshots.commit"))
    for k in ("bytes_written", "files_written", "chain_depth_max"):
        out[f"snapshots.{k}"] = fact(f"snapshots.{k}")
    out["snapshots.compact_wall_s"] = sum(duration(s) for s in named(spans, "snapshots.compact"))
    out["snapshots.compact_bytes_rewritten"] = fact("snapshots.compact_bytes_rewritten")
    out["snapshots.expire_bytes_freed"] = fact("snapshots.expire_bytes_freed")

    batches = named(spans, "ingest.batch")
    walls = sum(duration(s) for s in batches)
    cpus = [inclusive(s, spans, "task_cpu_s") for s in batches]
    docs = sum(s["attrs"].get("docs", 0.0) for s in batches)
    out["ingest.plain_batch_s_p50"] = median([duration(s) for s in batches])
    out["ingest.jobs_per_batch"] = median([inclusive(s, spans, "jobs") for s in batches])
    out["ingest.task_cpu_s_per_batch"] = median(cpus)
    out["ingest.cpu_util"] = sum(cpus) / (walls * threads) if walls > 0 else 0.0
    out["ingest.pairs_fresh_per_doc"] = (
        sum(s["attrs"].get("pairs_fresh", 0.0) for s in batches) / docs if docs else 0.0)

    for verb in VERB_LAYERS:
        ss = named(spans, verb)
        out[f"{verb}.wall_s"] = sum(duration(s) for s in ss)
        out[f"{verb}.jobs"] = sum(inclusive(s, spans, "jobs") for s in ss)
        out[f"{verb}.task_cpu_s"] = sum(inclusive(s, spans, "task_cpu_s") for s in ss)
    out["remove.roundtrip_diff"] = fact("remove.roundtrip_diff")
    out["audit.idle_wall_s"] = sum(duration(s) for s in named(spans, "audit.idle"))
    out["audit.edges_cut"] = fact("audit.edges_cut")
    out["merge.idle_wall_s"] = sum(duration(s) for s in named(spans, "merge.idle"))
    out["merge.qualified_ratio"] = fact("merge.qualified_ratio")

    out["setup.base_run_s"] = fact("setup.base_run_s")
    out["driver.heap_peak_mb"] = float(raw["host"]["heap_peak_mb"])
    out["trace.overhead_ratio"] = overhead_ratio(raw)
    for k in ("calib_ms", "loadavg_1m", "nproc", "threads", "heap_max_mb"):
        out[f"host.{k}"] = float(raw["host"][k])
    return out


def overhead_ratio(raw):
    """Traced decomposition wall over the untraced reference pass, - 1.
    Only `batch` has a decomposition; elsewhere tracing adds no work: 0."""
    spans = raw["spans"]
    traced = named(spans, "batch.traced")
    runs = named(spans, "batch.run")
    if not traced or not runs:
        return 0.0
    return duration(traced[-1]) / duration(runs[-1]) - 1.0


def samples(raw):
    """Sample count behind each end-to-end metric."""
    return {name: n for name, (_, n) in end_to_end(raw).items()}


def result(raw, spec, trace):
    """The final JSON object. Raises KeyError when a metric BENCHMARK.json
    names is missing, so a drifted summary can never print a partial line."""
    attempted, failed = counts(raw)
    metrics = {}
    if trace:
        values = per_layer(raw)
        for m in spec["per_layer"]:
            metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
    else:
        values = end_to_end(raw)
        for m in spec["end_to_end"]:
            metrics[m["name"]] = {"value": values[m["name"]][0], "unit": m["unit"]}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
