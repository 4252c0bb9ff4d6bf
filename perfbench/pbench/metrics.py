"""Aggregation of one harness run into end-to-end and per-layer metrics.

The JVM harness writes raw timestamps (epoch milliseconds) and Spark
listener events; everything derived lives here so it can be unit-tested
without a JVM."""
import statistics


def tail_percentile(xs, min_beyond=10):
    """Highest of the percentiles 99.9/99/95/90/75/50 with at least
    `min_beyond` samples above it, as (percentile, value, sample count).
    Returns (None, None, n) when even the median has too few samples beyond
    it. Nearest-rank: the p-th percentile is the ceil(p/100 * n)-th
    smallest sample."""
    n = len(xs)
    s = sorted(xs)
    for p in (99.9, 99, 95, 90, 75, 50):
        rank = -(-p * n // 100)  # ceil
        rank = max(1, int(rank))
        if n - rank >= min_beyond:
            return p, s[rank - 1], n
    return None, None, n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
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


def clip(interval, window):
    s, e = max(interval[0], window[0]), min(interval[1], window[1])
    return (s, e) if e > s else None


def driver_gap(window, job_intervals):
    """Time inside `window` during which no job was running."""
    covered = [c for c in (clip(j, window) for j in job_intervals) if c]
    return (window[1] - window[0]) - union_length(covered)


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    covered by its children (children clipped to the parent, overlapping
    children counted once). `spans` are dicts with id, parent, start, end.
    Returns {id: self time}."""
    kids = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        w = (s["start"], s["end"])
        cover = [c for c in (clip((k["start"], k["end"]), w)
                             for k in kids.get(s["id"], [])) if c]
        out[s["id"]] = max(0.0, (w[1] - w[0]) - union_length(cover))
    return out


def layer_self_times(spans):
    """Sum of span self times per layer (span["layer"])."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out


# Span nesting rank: a span's parent is the innermost span that contains
# it and has a lower rank, or the same rank and a longer interval (an
# action run inside another action's call, say).
RANK = {"query": 0, "build": 1, "consume": 1, "ivm": 2, "stream": 3,
        "planning": 4, "action": 4, "commit": 4, "job": 5,
        "checkpoint": 5, "stage": 6}

# Listener timestamps have millisecond resolution; the harness clock has
# sub-millisecond resolution on the same epoch base.
SLACK_MS = 2.0


def _outer(c, s):
    """True when span c may be the parent of span s (a strict order, so
    parents never form a cycle)."""
    rc, rs = RANK[c["layer"]], RANK[s["layer"]]
    if rc != rs:
        return rc < rs
    dc, ds = c["end"] - c["start"], s["end"] - s["start"]
    return dc > ds or (dc == ds and c["id"] < s["id"])


def assign_parents(spans):
    """Give each span the innermost span that contains it (see RANK), and
    its root's query id. Spans with no container keep parent None."""
    for s in spans:
        best = None
        for c in spans:
            if c is s or not _outer(c, s):
                continue
            if (c["start"] - SLACK_MS <= s["start"]
                    and s["end"] <= c["end"] + SLACK_MS):
                if best is None or _outer(best, c):
                    best = c
        s["parent"] = None if best is None else best["id"]
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        r = s
        while r["parent"] is not None:
            r = by_id[r["parent"]]
        s["query"] = r.get("query")
    return spans


# ---------------------------------------------------------------------------
# From one harness output (see perfbench/scala/graft/perfbench/Harness.scala)
# ---------------------------------------------------------------------------

def _in(t, window):
    return t is not None and window[0] - SLACK_MS <= t <= window[1] + SLACK_MS


def _mark(e, name):
    return next((m["t"] for m in e["marks"] if m["m"] == name), None)


def pass_windows(run, traced=None):
    return [(p["t0"], p["t1"]) for p in run["passes"]
            if traced is None or p.get("traced") == traced]


def shuffle_mb(run, window):
    return sum(s["shuffle_write_bytes"] for s in run["events"]["stages"]
               if _in(s["end"], window)) / 1e6


def refresh_s(execs):
    """IVM freshness: each kernel's `p1` mark until its result is
    consumed, summed over the kernels run in `execs`."""
    return sum((e["t1"] - _mark(e, "p1")) / 1e3 for e in execs
               if e["ok"] and _mark(e, "p1") is not None)


def end_to_end(run, failed, attempted):
    walls = [(w[1] - w[0]) / 1e3 for w in pass_windows(run)]
    return {
        "setup_s": (run["setup_end_ms"] - run["jvm_start_ms"]) / 1e3,
        "makespan_s": statistics.median(walls),
        "shuffle_mb": statistics.median(
            [shuffle_mb(run, w) for w in pass_windows(run)]),
        "ok_frac": 1.0 - failed / attempted,
        "peak_rss_mb": run["peak_rss_mb"],
    }


def _jobs(run):
    """Job intervals from the paired start/end events."""
    starts, ends = {}, {}
    for j in run["events"]["jobs"]:
        if "start" in j:
            starts[j["id"]] = j
        else:
            ends[j["id"]] = j["end"]
    return [dict(s, end=ends[i]) for i, s in starts.items() if i in ends]


def _action_interval(a):
    """A query execution's action runs after its physical planning ends;
    the listener reports its duration."""
    plan = a["phases"].get("planning")
    start = plan["end"] if plan else a["end"] - a["duration_ms"]
    return start, start + a["duration_ms"]


def build_spans(run, window):
    """Spans of one traced pass: query, builder call, consume, IVM phase,
    stream batch, planning phase, action/commit, job/checkpoint job and
    stage. Each span carries its query id; parents are assigned by
    interval containment (see RANK)."""
    spans = []

    def add(layer, name, start, end):
        if start is not None and end is not None and end >= start:
            spans.append({"id": len(spans), "layer": layer, "name": name,
                          "start": start, "end": end, "query": None,
                          "parent": None})

    for e in run["execs"]:
        if not _in(e["t0"], window):
            continue
        add("query", e["q"], e["t0"], e["t1"])
        spans[-1]["query"] = f"p{e['pass']}:{e['q']}"
        built = e["built"]
        if built is not None:
            add("build", "build", e["t0"], built)
            add("consume", "consume", built, e["t1"])
        # IVM phases run inside the builder call; the span tree stops them
        # at its end (the ivm.apply_s metric runs to the consumed result)
        p1, delta = _mark(e, "p1"), _mark(e, "delta")
        end = e["t1"] if built is None else built
        if p1 is not None:
            add("ivm", "ivm.base", e["t0"], p1)
            if delta is not None:
                add("ivm", "ivm.delta", p1, delta)
                add("ivm", "ivm.apply", delta, end)
    ev = run["events"]
    for b in ev["batches"]:
        if _in(b["start"], window):
            add("stream", f"batch {b['batch']}", b["start"],
                b["start"] + b["trigger_ms"])
    for a in ev["actions"]:
        s, t = _action_interval(a)
        if not _in(s, window):
            continue
        for ph, iv in a["phases"].items():
            add("planning", ph, iv["start"], iv["end"])
        add("commit" if a["command"] else "action", a["func"], s, t)
    for j in _jobs(run):
        if _in(j["start"], window):
            add("checkpoint" if j["checkpoint"] else "job", f"job {j['id']}",
                j["start"], j["end"])
    for st in ev["stages"]:
        if "start" in st and _in(st["end"], window):
            add("stage", f"stage {st['id']}", st["start"], st["end"])
    return _nest(spans)


def _nest(spans):
    """assign_parents within each query's window (the closed loop runs one
    query at a time), so the search stays linear in the number of
    queries. Spans outside every query window stay roots."""
    roots = [s for s in spans if s["layer"] == "query"]
    groups = {r["id"]: [r] for r in roots}
    for s in spans:
        if s["layer"] == "query":
            continue
        owner = next((r for r in roots
                      if r["start"] - SLACK_MS <= s["start"]
                      and s["end"] <= r["end"] + SLACK_MS), None)
        if owner is not None:
            groups[owner["id"]].append(s)
    for g in groups.values():
        assign_parents(g)
    return spans


def per_layer(run):
    """Per-layer metrics, each the mean over the traced passes, plus the
    tracing overhead from the untraced passes of the same JVM. Returns
    (metrics, spans of the traced passes, number of traced passes)."""
    traced = pass_windows(run, traced=True)
    ev = run["events"]
    cpus = run["cpus"]
    jobs = _jobs(run)
    rows, all_spans = [], []
    for p in run["passes"]:
        if not p.get("traced"):
            continue
        w = (p["t0"], p["t1"])
        wall_ms = w[1] - w[0]
        execs = [e for e in run["execs"] if _in(e["t0"], w)]
        ok = [e for e in execs if e["ok"] and e["built"] is not None]
        st = [s for s in ev["stages"] if "start" in s and _in(s["end"], w)]
        jb = [j for j in jobs if _in(j["start"], w)]
        ac = [a for a in ev["actions"] if _in(_action_interval(a)[0], w)]
        bt = [b for b in ev["batches"] if _in(b["start"], w)]
        cm = [a for a in ac if a["command"]]
        ck = [j for j in jb if j["checkpoint"]]
        done = {s["id"] for s in st}
        ivm = [e for e in ok if _mark(e, "p1") is not None
               and _mark(e, "delta") is not None]

        def ssum(k):
            return sum(s.get(k, 0) for s in st)

        def phase_ms(ph):
            return sum(a["phases"][ph]["end"] - a["phases"][ph]["start"]
                       for a in ac if ph in a["phases"])

        def bsum(k):
            return sum(b[k] for b in bt)

        rows.append({
            "planning.analysis_ms": phase_ms("analysis"),
            "planning.optimization_ms": phase_ms("optimization"),
            "planning.planning_ms": phase_ms("planning"),
            "planning.actions": len(ac),
            "queries.build_s": sum(e["built"] - e["t0"] for e in ok) / 1e3,
            "queries.consume_s": sum(e["t1"] - e["built"] for e in ok) / 1e3,
            "scheduler.jobs": len(jb),
            "scheduler.stages": len(st),
            "scheduler.stages_skipped": sum(
                1 for j in jb for sid in j["stages"] if sid not in done),
            "scheduler.tasks": ssum("tasks"),
            "scheduler.driver_gap_s": driver_gap(
                w, [(j["start"], j["end"]) for j in jb]) / 1e3,
            "scheduler.slot_busy_frac": ssum("run_ms") / (wall_ms * cpus),
            "checkpoint.jobs": len(ck),
            "checkpoint.s": sum(j["end"] - j["start"] for j in ck) / 1e3,
            "scan.input_mb": ssum("input_bytes") / 1e6,
            "scan.input_rows": ssum("input_rows"),
            "exchange.shuffle_read_mb": ssum("shuffle_read_bytes") / 1e6,
            "exchange.shuffle_records": ssum("shuffle_read_records"),
            "exchange.fetch_wait_ms": ssum("fetch_wait_ms"),
            "exchange.write_ms": ssum("shuffle_write_ns") / 1e6,
            "exchange.broadcast_mb":
                sum(a["broadcast_bytes"] for a in ac) / 1e6,
            "compute.executor_run_s": ssum("run_ms") / 1e3,
            "compute.executor_cpu_s": ssum("cpu_ns") / 1e9,
            "spill.memory_mb": ssum("spill_memory_bytes") / 1e6,
            "spill.disk_mb": ssum("spill_disk_bytes") / 1e6,
            "gc.task_gc_ms": ssum("gc_ms"),
            "gc.jvm_gc_ms": p["gc_ms"],
            "memory.peak_execution_mb":
                max([s.get("peak_execution_bytes", 0) for s in st] or [0]) / 1e6,
            "commit.actions": len(cm),
            "commit.s": sum(a["duration_ms"] for a in cm) / 1e3,
            "commit.output_mb": ssum("output_bytes") / 1e6,
            "commit.output_rows": ssum("output_rows"),
            "storage.tmp_mb": run["tmp_mb"],
            "ivm.base_s": sum(_mark(e, "p1") - e["t0"] for e in ivm) / 1e3,
            "ivm.delta_s": sum(_mark(e, "delta") - _mark(e, "p1")
                               for e in ivm) / 1e3,
            "ivm.apply_s": sum(e["t1"] - _mark(e, "delta") for e in ivm) / 1e3,
            "ivm.refresh_s": refresh_s(ok),
            "stream.batches": len(bt),
            "stream.trigger_ms": bsum("trigger_ms"),
            "stream.add_batch_ms": bsum("add_batch_ms"),
            "stream.wal_commit_ms": bsum("wal_commit_ms"),
            "stream.query_planning_ms": bsum("query_planning_ms"),
            "stream.input_rows": bsum("input_rows"),
        })
        all_spans.extend(build_spans(run, w))
    out = {k: statistics.fmean(r[k] for r in rows) for k in rows[0]}
    untraced = pass_windows(run, traced=False)
    walls = [statistics.median([b - a for a, b in ws]) for ws in (traced, untraced)]
    out["trace.overhead_frac"] = walls[0] / walls[1] - 1.0
    return out, all_spans, len(traced)
