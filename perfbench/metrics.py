"""Metrics from a run record: the end-to-end figures of an untraced run and
the per-layer figures of a traced one.

A span's self time is its duration minus the part of it that its child
spans cover. A span's jobs, stages and task figures are those the listener
attributed to the span or to any span under it; its gap is the part of its
duration in which none of those jobs was running, that is driver time.
"""
import statistics

OMM_PHASES = ["load", "plan", "materialize", "diff", "sink", "state"]
LM_PHASES = ["ingest", "score"]
MEASURES = [("wall_s", "s"), ("self_s", "s"), ("jobs", "count"),
            ("task_s", "s"), ("gap_s", "s"), ("shuffle_bytes", "bytes"),
            ("out_bytes", "bytes"), ("rows", "count")]

END_TO_END = [("poll_p50_s", "s"), ("setup_s", "s"),
              ("heap_live_peak_mb", "MB"), ("poll_success_rate", "ratio")]

PER_LAYER = (
    [(f"{p}.{m}", u) for p in OMM_PHASES + LM_PHASES for m, u in MEASURES]
    + [("poll.wall_s", "s"), ("poll.self_s", "s"), ("poll.jobs", "count"),
       ("poll.stages", "count"), ("poll.gap_share", "ratio"),
       ("diff.new_keys", "count"), ("diff.repeated_keys", "count"),
       ("trace.overhead_s", "s"),
       ("poll.cpu_s", "s"), ("poll.gc_s", "s"), ("poll.jit_s", "s"),
       ("compact.runs", "count"), ("compact.bytes_rewritten", "bytes"),
       ("state.files", "count"), ("state.bytes", "bytes")])


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
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


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def self_time(span, children):
    """Duration of `span` not covered by its `children` (µs)."""
    lo, hi = span["start_us"], span["end_us"]
    return (hi - lo) - union_length(
        clip([(c["start_us"], c["end_us"]) for c in children], lo, hi))


def span_stats(trace):
    """Per-span figures keyed by span id."""
    spans = {s["id"]: s for s in trace["spans"]}
    kids = {i: [] for i in spans}
    for s in spans.values():
        if s["parent"] in kids:
            kids[s["parent"]].append(s)

    def subtree(i):
        out = [i]
        for c in kids[i]:
            out += subtree(c["id"])
        return out

    jobs_by, stages_by = {}, {}
    for j in trace["jobs"]:
        jobs_by.setdefault(j["span"], []).append(j)
    for st in trace["stages"]:
        stages_by.setdefault(st["span"], []).append(st)
    out = {}
    for i, s in spans.items():
        ids = subtree(i)
        jobs = [j for k in ids for j in jobs_by.get(k, [])]
        stages = [st for k in ids for st in stages_by.get(k, [])]
        wall = s["end_us"] - s["start_us"]
        busy = union_length(clip(
            [(j["start_us"], j["end_us"] if j["end_us"] >= 0 else s["end_us"])
             for j in jobs], s["start_us"], s["end_us"]))
        out[i] = {
            "name": s["name"], "poll": s["poll"], "parent": s["parent"],
            "wall_s": wall / 1e6,
            "self_s": self_time(s, kids[i]) / 1e6,
            "jobs": len(jobs),
            "stages": sum(st["attempts"] for st in stages),
            "task_s": sum(st["task_ms"] for st in stages) / 1e3,
            "gap_s": (wall - busy) / 1e6,
            "shuffle_bytes": sum(st["shuffle_bytes"] for st in stages),
            "out_bytes": sum(st["out_bytes"] for st in stages),
            "rows": sum(st["rows"] for st in stages),
        }
    return out


def _med(xs):
    return statistics.median(xs) if xs else 0


def per_layer(record):
    """Every per-layer metric; a layer the workload does not run reads 0."""
    trace = record["trace"]
    stats = span_stats(trace)
    polls = [s for s in stats.values() if s["name"] == "poll"]
    by_poll = {}
    for i, s in stats.items():
        if s["name"] != "poll":
            by_poll.setdefault(s["name"], []).append(s)
    m = {}
    for phase in OMM_PHASES + LM_PHASES:
        for meas, _ in MEASURES:
            m[f"{phase}.{meas}"] = _med([s[meas] for s in by_poll.get(phase, [])])
    for meas in ("wall_s", "self_s", "jobs", "stages"):
        m[f"poll.{meas}"] = _med([s[meas] for s in polls])
    m["poll.gap_share"] = _med([s["gap_s"] / s["wall_s"] for s in polls
                                if s["wall_s"] > 0])
    traced = [p for p in record["polls"] if p["kind"] == "traced" and p["ok"]]
    plain = [p for p in record["polls"] if p["kind"] == "warm" and p["ok"]]
    for key in ("new_keys", "repeated_keys"):
        m[f"diff.{key}"] = _med([p[key] for p in traced if key in p])
    m["trace.overhead_s"] = (_med([p["wall_s"] for p in traced])
                             - _med([p["wall_s"] for p in plain]))
    for key in ("cpu_s", "gc_s", "jit_s"):
        m[f"poll.{key}"] = _med([p[key] for p in traced if key in p])
    fin = record.get("finish") or {}
    m["compact.runs"] = fin.get("compact_runs", 0)
    m["compact.bytes_rewritten"] = fin.get("compact_bytes", 0)
    m["state.files"] = fin.get("state_files", 0)
    m["state.bytes"] = fin.get("state_bytes", 0)
    return m


def end_to_end(record, failed, attempted, heap_polls):
    """The live heap grows by 1.3-2 MB a poll (Spark's retained job and
    SQL status), so its peak is taken over the cold poll and the first
    `heap_polls` warm polls only: a faster program, which fits more polls
    into the run, does not read as using more memory."""
    warm = [p["wall_s"] for p in record["polls"] if p["kind"] == "warm"]
    return {
        "poll_p50_s": statistics.median(warm),
        "setup_s": statistics.median(record["setups_s"]),
        "heap_live_peak_mb": max(record["heap_live_mb"][:1 + heap_polls]),
        "poll_success_rate": 1.0 - failed / attempted,
    }


def result(record, bad, trace, heap_polls):
    """Summary lines and the result object of a run. A poll fails when it
    throws or when the oracle check (`bad`: k -> problems) rejects it."""
    polls = record["polls"]
    main = record["main_setup"]
    failed = {(p["setup"], p["k"]) for p in polls if not p["ok"]} \
        | {(main, k) for k in bad}
    attempted = len(polls)
    warm = [p["wall_s"] for p in polls if p["kind"] == "warm"]
    lines = [f"poll {p['k']} (set-up {p['setup']}) failed: {p['error']}"
             for p in polls if not p["ok"]]
    lines += [f"poll {k} differs from the oracle: {'; '.join(v)}"
              for k, v in sorted(bad.items())]
    lines += [
        f"local[{record['cpus']}], {record['shuffle_partitions']} shuffle "
        f"partitions: {len(record['setups_s'])} set-ups, {attempted} polls "
        f"attempted, {len(failed)} failed",
        f"  warm poll wall: p50 {statistics.median(warm):.4f} s over n={len(warm)}"
        f" ({', '.join(f'{w:.3f}' for w in warm)}); set-ups "
        f"{', '.join(f'{s:.3f}' for s in record['setups_s'])}; live heap MB "
        f"{', '.join(f'{h:.1f}' for h in record['heap_live_mb'])}",
        "  warm poll cpu / gc / jit s: " + ", ".join(
            f"{p['cpu_s']:.2f}/{p['gc_s']:.2f}/{p['jit_s']:.2f}"
            for p in polls if p["kind"] == "warm" and "cpu_s" in p),
        f"  poll_error_rate = {len(failed) / attempted} ratio"]
    if trace:
        values, units = per_layer(record), dict(PER_LAYER)
    else:
        values = end_to_end(record, len(failed), attempted, heap_polls)
        units = dict(END_TO_END)
    lines += [f"  {n} = {v} {units[n]}" for n, v in values.items()]
    return lines, {
        "correct": not failed, "attempted": attempted, "failed": len(failed),
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
    }
