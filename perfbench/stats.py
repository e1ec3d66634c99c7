"""Statistics of the benchmark: turns the raw samples a run's JVM writes
into the end-to-end and per-layer metrics. Pure functions, no I/O."""
import statistics

# The tail is the highest percentile that still has this many samples
# beyond it; with fewer samples there is no supported tail.
TAIL_BEYOND = 10

# Layer spans that build a DataFrame before its action runs.
CONSTRUCT_SPANS = ("edfs.resolve", "edfs.meta", "pmr.build", "tables.load",
                   "storefp.adopt", "ops.build")
WRITE_SPANS = ("edfs.put", "edfs.append", "edfs.merge", "edfs.compact", "edfs.vacuum")


def median(values):
    return statistics.median(values)


def quartiles(values):
    """(q1, q2, q3) as statistics.quantiles(values, n=4) gives them."""
    return tuple(statistics.quantiles(values, n=4))


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


def tail(values):
    """(percentile, value, n_beyond): the highest rank with at least
    TAIL_BEYOND samples above it. A rank below the median is no tail: with
    fewer than 2 * TAIL_BEYOND + 1 samples this is the maximum instead,
    with its n_beyond of 0 saying the sample supports no real tail."""
    xs = sorted(values)
    n = len(xs)
    k = n - 1 - TAIL_BEYOND
    if n < 2 * TAIL_BEYOND + 1:
        k = n - 1
    return (100.0 * k / (n - 1) if n > 1 else 100.0, xs[k], n - 1 - k)


def count_ops(*windows):
    """(attempted, failed) over the rounds of the given windows."""
    ops = [op for rounds in windows for rnd in rounds for op in rnd["ops"]]
    return len(ops), sum(1 for op in ops if not op["ok"])


def round_ms(rnd):
    return sum(op["ms"] for op in rnd["ops"])


def op_ms(rounds, name):
    return [op["ms"] for rnd in rounds for op in rnd["ops"] if op["name"] == name]


def ops_per_s(rounds):
    ms = [op["ms"] for rnd in rounds for op in rnd["ops"]]
    return 1000.0 * len(ms) / sum(ms)


def end_to_end(raw, launch_s):
    """The end-to-end metrics of the untraced timed window."""
    rounds = raw["timed"]["rounds"]
    per_round = [round_ms(r) for r in rounds]
    return {
        "setup_s": raw["session_ready_ms"] / 1000.0 - launch_s + median(raw["setup_s"]),
        "ops_per_s": ops_per_s(rounds),
        "round_p50_ms": median(per_round),
        "getavg_p50_ms": median(op_ms(rounds, "getavg")),
        "pruned_p50_ms": median(op_ms(rounds, "pruned_getavg")),
        "rss_peak_mb": raw["rss_peak_mb"],
    }


def union_ms(intervals):
    """Total length of the union of (t0, t1) nanosecond intervals, in ms."""
    total, end = 0, None
    for t0, t1 in sorted(intervals):
        if end is None or t0 > end:
            total += t1 - t0
            end = t1
        elif t1 > end:
            total += t1 - end
            end = t1
    return total / 1e6


def self_times(spans):
    """{span id: self ms}: a span's duration minus what its children cover.
    Spans are [id, parent, name, op, t0, t1]."""
    children = {}
    for s in spans:
        children.setdefault(s[1], []).append((s[4], s[5]))
    return {s[0]: (s[5] - s[4]) / 1e6 - union_ms(children.get(s[0], [])) for s in spans}


def coverage(spans):
    """Per op name: share of the op spans' time covered by their children."""
    children = {}
    for s in spans:
        children.setdefault(s[1], []).append((s[4], s[5]))
    total, covered = {}, {}
    for s in spans:
        if s[2] == "op":
            total[s[3]] = total.get(s[3], 0.0) + (s[5] - s[4]) / 1e6
            covered[s[3]] = covered.get(s[3], 0.0) + union_ms(children.get(s[0], []))
    return {op: covered[op] / total[op] for op in total if total[op] > 0}


def per_layer(raw):
    """The per-layer metrics of the traced window, per round."""
    tr = raw["traced"]
    rounds = tr["rounds"]
    n = len(rounds)
    spans = tr["spans"]
    self_ms = self_times(spans)
    by_name = {}
    for s in spans:
        by_name[s[2]] = by_name.get(s[2], 0.0) + self_ms[s[0]]

    def span_ms(*names):
        return sum(by_name.get(x, 0.0) for x in names) / n

    def meter(field, spans_in=None, op=None):
        return sum(e["counts"].get(field, 0.0) for e in tr["meter"]
                   if (spans_in is None or e["span"] in spans_in)
                   and (op is None or e["op"] == op))

    full_in = meter("input_bytes", op="getavg")
    user = tr["user_bytes_per_round"] * n
    cov = coverage(spans)
    m = {
        "edfs.resolve_ms": span_ms("edfs.resolve"),
        "edfs.meta_ms": span_ms("edfs.meta"),
        "edfs.put_ms": span_ms("edfs.put"),
        "edfs.append_ms": span_ms("edfs.append"),
        "edfs.merge_ms": span_ms("edfs.merge"),
        "edfs.compact_ms": span_ms("edfs.compact"),
        "edfs.vacuum_ms": span_ms("edfs.vacuum"),
        "edfs.write_amp": meter("output_bytes", WRITE_SPANS) / user if user else 0.0,
        "edfs.space_amp": median([r["disk_bytes"] / r["data_bytes"] for r in rounds]),
        "edfs.leaf_files": median([r["leaf_files"] for r in rounds]),
        "pmr.build_ms": span_ms("pmr.build"),
        "pmr.exec_ms": span_ms("pmr.exec"),
        "pmr.pruned_input_frac":
            meter("input_bytes", op="pruned_getavg") / full_in if full_in else 0.0,
        "tables.infer_jobs": meter("jobs", ("tables.load",)) / n,
        "tables.infer_ms": span_ms("tables.load"),
        "storefp.builds_in_loop": raw["storefp"]["loop_builds"],
        "storefp.setup_builds": raw["storefp"]["setup_builds"],
        "storefp.adopt_ms": span_ms("storefp.adopt"),
        "ops.construct_ms": span_ms(*CONSTRUCT_SPANS),
        "ops.construct_jobs": meter("jobs", CONSTRUCT_SPANS) / n,
        "ops.action_ms": span_ms("action"),
        "spark.plan_ms": tr["plan_ms"] / n,
        "spark.codegen_classes": tr["codegen_classes"] / n,
        "spark.codegen_ms": tr["codegen_ms"] / n,
        "trace.coverage": min(cov.values()) if cov else 0.0,
        "trace.overhead_pct":
            100.0 * (1.0 - ops_per_s(rounds) / ops_per_s(raw["timed"]["rounds"])),
        "host.steal_pct": (raw["timed"]["steal"] + tr["steal"]) / 2.0,
    }
    for field in ("jobs", "stages", "tasks", "sched_ms", "exec_cpu_ms", "exec_run_ms",
                  "gc_ms", "input_bytes", "output_bytes", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes"):
        m["spark." + field] = meter(field) / n
    return m
