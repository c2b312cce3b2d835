"""Pure functions that turn one JVM report into the benchmark's metrics.

Kept free of I/O so that tests/test_benchmath.py can check them directly.
"""
import math


def percentile(values, q):
    """q-th percentile (0..100) with linear interpolation between ranks."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


# ---------------------------------------------------------------- streams

def data_batches(batches, start):
    """Micro-batches that admitted ids, in batch order, with a resolved
    `start` offset (the engine reports none for a query's first batch)."""
    out = []
    prev_end = start
    for b in sorted(batches, key=lambda b: (b["batch"], b["ts_ms"])):
        s = b["start"] if b["start"] >= 0 else prev_end
        if b["end"] > s:
            out.append(dict(b, start=s))
            prev_end = b["end"]
    return out


def offset_faults(batches, start):
    """(gap_ids, replayed_ids) of a chain of data batches: every batch must
    begin where the previous one ended, the first one at `start`."""
    gaps = replays = 0
    expect = start
    for b in batches:
        if b["start"] > expect:
            gaps += b["start"] - expect
        elif b["start"] < expect:
            replays += min(expect, b["end"]) - b["start"]
        expect = max(expect, b["end"])
    return gaps, replays


def infer_anchor_ms(batches, start, total, eps):
    """Earliest wall-clock time (ms) consistent with the live source's rate
    schedule: ids [start, start + n) are available n*1000/eps ms after the
    anchor, and a trigger at ts_ms that admitted up to `end` saw fewer than
    end-start+1 ids available. Each uncapped batch therefore bounds the
    anchor from below; the tightest bound is the estimate. Using the
    earliest consistent anchor never under-states a latency."""
    bounds = [b["ts_ms"] - (b["end"] - start + 1) * 1000.0 / eps
              for b in batches if b["end"] < total]
    if not bounds:
        raise ValueError("no uncapped batch to anchor the schedule")
    return max(bounds)


def batch_end_ms(b):
    return b["ts_ms"] + b["trigger_ms"]


def event_latencies_ms(batches, start, created_ms):
    """Per-event (creation time, latency): latency is the end of the
    micro-batch that committed the event (which emitted its auction's
    leaderboard update) minus the event's creation time `created_ms(id)`."""
    out = []
    for b in batches:
        end = batch_end_ms(b)
        out.extend((created_ms(i), end - created_ms(i))
                   for i in range(b["start"], b["end"]))
    return out


def steady_rate(batches):
    """Rows per second of triggerExecution over every data batch but the
    first, which pays the query's start; NaN with fewer than two."""
    steady = [b for b in batches[1:] if b["trigger_ms"] > 0]
    ms = sum(b["trigger_ms"] for b in steady)
    return sum(b["rows"] for b in steady) * 1000.0 / ms if ms else float("nan")


def stream_outcome(stream, limit_ms=None, ramp_ms=0):
    """Events attempted, failed, and per-event latencies of one stream run.

    Live runs (`eps` present) stamp each event with its scheduled
    availability time and measure its latency; drain runs make every id
    available at start() and measure none. An event fails if it is never
    committed, if it misses `limit_ms`, if it lies in an offset gap or is
    replayed, or if the query failed. A live run whose batches cannot
    anchor the schedule fails every event. Events created in the first
    `ramp_ms` of the schedule (the query's first, cold micro-batches) are
    checked but left out of `latencies_ms`."""
    start, total = stream["start"], stream["total"]
    attempted = total - start
    bs = data_batches(stream["batches"], start)
    gaps, replays = offset_faults(bs, start)
    committed = max([b["end"] for b in bs], default=start) - start
    failed = (attempted - min(committed, attempted)) + gaps + replays
    eps = stream.get("eps")
    events, latencies = [], []
    if eps:
        try:
            anchor = infer_anchor_ms(bs, start, total, eps)
        except ValueError:
            anchor = None
            failed = attempted
        if anchor is not None:
            events = event_latencies_ms(
                bs, start, lambda i: anchor + (i - start) * 1000.0 / eps)
            latencies = [x for c, x in events if c >= anchor + ramp_ms]
    late = sum(1 for _, x in events if limit_ms is not None and x > limit_ms)
    failed += late
    if stream.get("error") or not stream.get("leaderboard_ok", False):
        failed = attempted
    return {
        "attempted": attempted,
        "failed": min(failed, attempted),
        "committed": committed,
        "gaps": gaps,
        "replays": replays,
        "late": late,
        "latencies_ms": latencies,
        "batches": len(bs),
        "steady_eps": steady_rate(bs),
        "last_end_ms": max([batch_end_ms(b) for b in bs], default=stream["end_ms"]),
    }


# ---------------------------------------------------------------- catalog

def entry_passed(e, golden):
    """An entry fails if it threw, has no golden fingerprint, or its
    fingerprint differs from the golden one."""
    return (e.get("error") is None and e.get("fingerprint") is not None
            and golden.get(e["name"]) == e["fingerprint"])


def catalog_outcome(entries, golden):
    """Entries that passed and that failed (see entry_passed)."""
    ok, failed = [], []
    for e in entries:
        (ok if entry_passed(e, golden) else failed).append(e)
    return ok, failed


def catalog_times(rounds, golden):
    """Timings of the timed passes over the catalog entries. Each entry's
    time is its median over the passes in which it passed, so neither one
    slow pass nor a failure is timed as a success. wall_s is the sum of
    those medians (one pass over the entries that passed); cpu_s is the
    median pass's process CPU time; the latencies are percentiles over the
    entries' median times."""
    times = {}
    for r in rounds:
        for e in r["entries"]:
            if entry_passed(e, golden):
                times.setdefault(e["name"], []).append(e["total_s"])
    per_entry = [median(ts) for ts in times.values()]
    nan = float("nan")
    wall = sum(per_entry) if per_entry else nan
    return {
        "wall_s": wall,
        "cpu_s": median([r["cpu_s"] for r in rounds]) if rounds else nan,
        "events_per_s": len(per_entry) / wall if per_entry else nan,
        "latency_p50_ms": percentile(per_entry, 50) * 1000 if per_entry else nan,
        "latency_p99_ms": percentile(per_entry, 99) * 1000 if per_entry else nan,
    }


def at_reference_speed(metrics, probes_s, reference_s):
    """End-to-end metrics at the reference host's speed: times (every
    metric but those ending in `_per_s`) are divided, rates multiplied, by
    the run's median memory-latency probe over the reference probe. The
    probe runs no program code, so the factor moves only with the host."""
    f = median(probes_s) / reference_s
    return {k: v * f if k.endswith("_per_s") else v / f for k, v in metrics.items()}


def error_rate(attempted, failed):
    return failed / attempted if attempted else 1.0


def finite_metrics(metrics):
    """The metrics that have a finite value. A metric without samples (no
    checked entry, no latency sample) is NaN and is left out of the result
    line rather than printed as invalid JSON."""
    return {k: v for k, v in metrics.items() if math.isfinite(v)}


# ---------------------------------------------------------------- spans

def union_ms(intervals):
    """Total length of the union of [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time_ms(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span["start_ms"], span["end_ms"]
    clipped = [(max(s, c["start_ms"]), min(e, c["end_ms"])) for c in children]
    return (e - s) - union_ms(clipped)


# A span of a kind on the left may contain spans of the kinds on the right.
CONTAINS = {"entry": ("query", "batch", "job"), "batch": ("query", "job"),
            "query": ("job",)}


def assign_parents(spans):
    """Fill in missing parents by time containment: the shortest span of a
    kind allowed to contain this one whose interval covers its start."""
    by_kind = {}
    for s in spans:
        by_kind.setdefault(s["kind"], []).append(s)
    out = []
    for s in spans:
        if s.get("parent") is None:
            cands = [p for k, kids in CONTAINS.items() if s["kind"] in kids
                     for p in by_kind.get(k, ())
                     if p["start_ms"] <= s["start_ms"] < p["end_ms"]
                     or p["start_ms"] == s["start_ms"] == p["end_ms"]]
            if cands:
                best = min(cands, key=lambda p: p["end_ms"] - p["start_ms"])
                s = dict(s, parent=best["id"])
        out.append(s)
    return out


def self_time_by_kind_s(spans):
    """Summed self time (s) per span kind, after parent assignment."""
    spans = assign_parents(spans)
    kids = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append(s)
    totals = {}
    for s in spans:
        t = self_time_ms(s, kids.get(s["id"], []))
        totals[s["kind"]] = totals.get(s["kind"], 0.0) + t / 1000.0
    return totals


# ---------------------------------------------------------------- trace

PHASES = [("latestOffset", "latest_offset"), ("queryPlanning", "query_planning"),
          ("addBatch", "add_batch"), ("walCommit", "wal_commit"),
          ("commitOffsets", "commit_offsets"), ("triggerExecution", "trigger")]

ROCKS = [("rocksdbPutCount", "state.rocksdb_put_count"),
         ("rocksdbGetCount", "state.rocksdb_get_count"),
         ("rocksdbCommitCheckpointLatency", "state.rocksdb_commit_checkpoint_ms"),
         ("rocksdbCommitFlushLatency", "state.rocksdb_commit_flush_ms")]


def stream_layers(progress, start_ms):
    """Micro-batch engine, state store and source metrics from the progress
    events of every streaming query started in the timed region."""
    data = [p for p in progress if p["rows"] > 0 or "addBatch" in p["duration_ms"]]
    m = {"stream.queries": len(start_ms), "stream.batches": len(data)}
    first = {}
    for p in data:
        first[p["run"]] = min(first.get(p["run"], p["ts_ms"]), p["ts_ms"])
    m["stream.start_s"] = sum(first[r] - start_ms[r] for r in first
                              if r in start_ms) / 1000.0
    for key, name in PHASES:
        xs = [p["duration_ms"].get(key, 0) for p in data]
        m[f"stream.{name}_ms"] = float(sum(xs))
        m[f"stream.{name}_ms_p50"] = float(median(xs)) if xs else 0.0
    ops = [o for p in data for o in p["state"]]
    m["state.update_ms"] = float(sum(o["update_ms"] for o in ops))
    m["state.commit_ms"] = float(sum(o["commit_ms"] for o in ops))
    last = {}
    for p in sorted(data, key=lambda p: p["ts_ms"]):
        if p["state"]:
            last[p["run"]] = p["state"]
    m["state.rows_total"] = sum(o["rows_total"] for st in last.values() for o in st)
    m["state.memory_bytes"] = max([o["memory_bytes"] for o in ops], default=0)
    for key, name in ROCKS:
        m[name] = sum(o["custom"].get(key, 0) for o in ops)
    srcs = [s for p in data for s in p["sources"]]
    m["source.rows_admitted"] = sum(s["rows"] for s in srcs)
    m["source.backlog_rows_max"] = max(
        [s["latest"] - s["end"] for s in srcs if s["latest"] >= 0 and s["end"] >= 0],
        default=0)
    return m
