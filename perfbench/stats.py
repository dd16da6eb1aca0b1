"""Arithmetic on the harness's raw records: percentiles, span self time,
core use, scheduling gap, contamination, and the metric sets run.py
prints. Pure functions over plain dicts and lists, unit-tested in
tests/test_stats.py."""
import math
import statistics

# Operations whose CPU per scanned row is the kernel cost of `plans/`.
KERNEL_OPS = ("dedup_minhash", "dedup_simhash_pairs")
CONSTRUCT_MODULES = ("operators", "dedup", "functions", "ml")
# A timed window is suspect when other processes used more than this share
# of the machine's core time inside it. Kernel threads doing the client's
# own file I/O count as other processes, so a writing workload reads a few
# percent even on an idle machine.
SUSPECT_OTHER_CPU = 0.10


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p, min_beyond=10):
    """Nearest-rank p-th percentile (0 < p < 1), or None unless at least
    `min_beyond` samples lie above it."""
    if not xs:
        return None
    s = sorted(xs)
    rank = max(1, math.ceil(p * len(s)))
    if len(s) - rank < min_beyond:
        return None
    return s[rank - 1]


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """span id -> its duration minus the part its children cover (each
    child clipped to the parent's interval)."""
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        if s["parent"] in by_id:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        clipped = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                   for c in kids.get(s["id"], [])]
        covered = union_length([(a, b) for a, b in clipped if b > a])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def self_time_by_name(spans):
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out


def core_use(task_ms, wall_ms, cores):
    """Share of the cores' time the tasks were running."""
    return task_ms / (wall_ms * cores) if wall_ms > 0 and cores > 0 else 0.0


def sched_gap_ms(wall_ms, task_ms, cores):
    """Wall time not explained by task time spread over every core."""
    return wall_ms - task_ms / cores if cores > 0 else wall_ms


def contamination(passes, cores, other_jvms):
    """Per-run contamination record; `suspect` is True when another JVM
    was alive at start, or inside any timed window other processes or the
    hypervisor (steal) took more than SUSPECT_OTHER_CPU of the cores."""
    def worst(key):
        shares = [p[key] / (p["wall_ms"] * cores) for p in passes
                  if p.get(key, -1) >= 0 and p["wall_ms"] > 0]
        return max(shares) if shares else -1.0
    other, steal = worst("other_cpu_ms"), worst("steal_ms")
    reasons = []
    if other_jvms:
        reasons.append(f"{len(other_jvms)} other JVM(s) at start")
    if other > SUSPECT_OTHER_CPU:
        reasons.append(f"other processes used {other:.1%} of the cores in a window")
    if steal > SUSPECT_OTHER_CPU:
        reasons.append(f"the hypervisor took {steal:.1%} of the cores in a window")
    return {"other_jvms": other_jvms, "other_cpu_ms": [p["other_cpu_ms"] for p in passes],
            "steal_ms": [p.get("steal_ms", -1) for p in passes],
            "worst_other_cpu_share": other, "worst_steal_share": steal,
            "suspect": bool(reasons), "reasons": reasons}


def op_ms(r):
    return r["construct_ms"] + r["exec_ms"]


def warm_passes(raw, traced=None):
    return [p for p in raw["passes"] if p["pass"] > 0
            and (traced is None or p["traced"] == traced)]


def op_p50_ms(raw):
    """Median across operations of each operation's median warm latency.
    Pooling every sample instead puts the median between the slowest
    sample of one operation and the fastest of the next, which swings
    with the extremes of both."""
    per_op = {}
    for r in raw["ops"]:
        if r["pass"] > 0:
            per_op.setdefault(r["op"], []).append(op_ms(r))
    return median([median(v) for v in per_op.values()])


def end_to_end(raw, setup_samples):
    """Untraced metrics; returns (metrics, extras printed but not gated)."""
    warm = warm_passes(raw)
    ops = [op_ms(r) for r in raw["ops"] if r["pass"] > 0]
    metrics = {
        "setup_s": (median(setup_samples), "s"),
        "cold_s": (raw["passes"][0]["wall_ms"] / 1000.0, "s"),
        "warm_s": (median([p["wall_ms"] for p in warm]) / 1000.0, "s"),
        "op_p50_ms": (op_p50_ms(raw), "ms"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
    }
    p90 = percentile(ops, 0.9)
    extras = {"op_p90_ms": (p90, "ms") if p90 is not None else
              (None, f"ms (dropped: {len(ops)} samples, fewer than 10 beyond p90)"),
              "warm_samples": (len(ops), "count"),
              "warm_passes": (len(warm), "count")}
    return metrics, extras


def _per_pass(raw, passes, fn):
    """Median over the given passes of fn(list of that pass's op records)."""
    ids = {p["pass"] for p in passes}
    groups = {}
    for r in raw["ops"]:
        if r["pass"] in ids:
            groups.setdefault(r["pass"], []).append(r)
    return median([fn(g) for g in groups.values()])


def _csum(recs, key):
    return sum(r["counters"].get(key, 0.0) for r in recs)


def per_op(raw):
    """Per operation: cold and median warm latency, and the medians over
    the traced warm passes of its Spark counters, so a later change can be
    pinned to the operation it moved."""
    cores = raw["cores"]
    out = []
    for c in (r for r in raw["ops"] if r["pass"] == 0):
        warm = [r for r in raw["ops"] if r["pass"] > 0 and r["op"] == c["op"]]
        traced = [r for r in warm if r["traced"]]

        def med(fn):
            return median([fn(r) for r in traced])
        out.append({
            "op": c["op"], "module": c["module"], "cold_ms": op_ms(c),
            "warm_ms": median([op_ms(r) for r in warm]),
            "construct_ms": med(lambda r: r["construct_ms"]),
            "exec_ms": med(lambda r: r["exec_ms"]),
            "core_use": med(lambda r: core_use(r["counters"].get("task_ms", 0.0),
                                               op_ms(r), cores)),
            **{k: med(lambda r, k=k: r["counters"].get(k, 0.0)) for k in (
                "jobs", "eager_jobs", "tasks", "task_ms", "shuffle_write_bytes",
                "shuffle_read_bytes", "h5ad_decode_task_ms", "write_ms")}})
    return out


def per_layer(raw, input_bytes, workload):
    """Per-layer metrics of a traced run (values and units)."""
    cores = raw["cores"]
    traced = warm_passes(raw, traced=True)
    untraced = warm_passes(raw, traced=False)
    m = {}

    def put(name, value, unit):
        m[name] = (float(value), unit)

    def pp(key, scale=1.0):
        return _per_pass(raw, traced, lambda g: _csum(g, key) * scale)

    put("session.start_ms", raw["session_start_ms"], "ms")
    put("sources.h5ad_decode_task_ms", pp("h5ad_decode_task_ms"), "ms")
    put("sources.write_ms", pp("write_ms"), "ms")
    put("sources.bytes_written", pp("bytes_written"), "bytes")
    put("sources.files_written", pp("files_written"), "count")
    put("sources.derived_layout_bytes", raw["derived_layout_bytes"], "bytes")
    put("sources.write_amp", raw["product_bytes"] / input_bytes
        if workload == "product_build" and input_bytes else 0.0, "ratio")
    for mod in CONSTRUCT_MODULES:
        mine = lambda g, mod=mod: [r for r in g if r["module"] == mod]
        put(f"{mod}.construct_ms",
            _per_pass(raw, traced, lambda g: sum(r["construct_ms"] for r in mine(g))), "ms")
        put(f"{mod}.eager_jobs",
            _per_pass(raw, traced, lambda g: _csum(mine(g), "eager_jobs")), "count")
    for ph in ("analysis", "optimization", "planning"):
        put(f"plans.{ph}_ms", pp(f"{ph}_ms"), "ms")
    for k in ("exchanges", "reused_exchanges", "broadcasts", "smj", "bhj", "codegen_stages"):
        put(f"plans.{k}", pp(k), "count")
    kern = [r for r in raw["ops"] if r["traced"] and r["pass"] > 0 and
            (r["op"] in KERNEL_OPS or (r["op"].startswith("vocab_") and r["op"].endswith("_apply")))]
    rows = _csum(kern, "records_read")
    put("plans.kernel_cpu_ns_per_row", _csum(kern, "cpu_ns") / rows if rows else 0.0, "ns")
    for k in ("jobs", "stages", "tasks"):
        put(f"exec.{k}", pp(k), "count")
    # Task time counts the eager jobs of construction too, so both are
    # taken over the whole operation, not only its exec phase.
    task = sum(_csum([r], "task_ms") for r in raw["ops"] if r["traced"] and r["pass"] > 0)
    wall = sum(op_ms(r) for r in raw["ops"] if r["traced"] and r["pass"] > 0)
    put("exec.core_use", core_use(task, wall, cores), "ratio")
    put("exec.sched_gap_ms", _per_pass(raw, traced, lambda g: sched_gap_ms(
        sum(op_ms(r) for r in g), _csum(g, "task_ms"), cores)), "ms")
    put("exec.task_ms", pp("task_ms"), "ms")
    put("exec.cpu_ms", pp("cpu_ns", 1e-6), "ms")
    put("exec.shuffle_write_bytes", pp("shuffle_write_bytes"), "bytes")
    put("exec.shuffle_read_bytes", pp("shuffle_read_bytes"), "bytes")
    put("exec.spill_bytes", pp("spill_bytes"), "bytes")
    put("exec.peak_exec_mem_mb", _per_pass(raw, traced, lambda g: max(
        [r["counters"].get("peak_exec_mem_bytes", 0.0) for r in g] or [0.0])) / 1048576.0, "MB")
    warm_med = {}
    for r in raw["ops"]:
        if r["traced"] and r["pass"] > 0:
            warm_med.setdefault(r["op"], []).append(op_ms(r))
    cold = [r for r in raw["ops"] if r["pass"] == 0]
    put("cache.cold_tax_ms", sum(op_ms(r) - median(warm_med.get(r["op"], [op_ms(r)]))
                                 for r in cold), "ms")
    put("jvm.jit_ms", raw["passes"][0]["jit_ms"], "ms")
    put("jvm.gc_ms", median([p["gc_ms"] for p in traced]), "ms")
    put("jvm.codecache_mb", raw["passes"][-1]["codecache_mb"], "MB")
    warm_ids = {r["span"] for r in raw["ops"] if r["traced"] and r["pass"] > 0}
    names = self_time_by_name([s for s in raw["spans"] if s["op"] in warm_ids])
    for n in ("construct", "exec", "job", "stage"):
        put(f"spans.{n}_self_ms", names.get(n, 0.0) / max(1, len(traced)), "ms")
    t, u = median([p["wall_ms"] for p in traced]), median([p["wall_ms"] for p in untraced])
    put("trace.overhead_frac", t / u - 1.0 if t and u else 0.0, "ratio")
    return m

