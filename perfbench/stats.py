"""Arithmetic on the harness records: quartiles, the tail-percentile
rule, interval unions, span self times and the per-run metrics.

Every function here is pure so that test_stats.py can check it on
planted records without a JVM.
"""
import math
import statistics

MB = 1048576.0


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def tail_percentile(values, beyond=10):
    """The highest whole percentile with at least `beyond` samples above
    it, as (percentile, value), or None when there are too few samples
    for even the median. Nearest-rank: the p-th percentile is the
    ceil(p/100 * n)-th smallest sample."""
    n = len(values)
    if n < 2 * beyond:
        return None
    p = math.floor(100 * (n - beyond) / n)
    rank = math.ceil(p / 100 * n)
    while n - rank < beyond:  # guards float rounding at the boundary
        p -= 1
        rank = math.ceil(p / 100 * n)
    return p, sorted(values)[rank - 1]


def union_length(intervals):
    """Total length covered by (start, end) intervals, overlaps once."""
    total, cur_s, cur_e = 0, None, None
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


def clip(interval, within):
    return max(interval[0], within[0]), min(interval[1], within[1])


# ---------------------------------------------------------------- spans
def build_spans(recs):
    """Span tree of the traced passes: pass > key > build/sink > job >
    stage, with plan.* phases under the harness span they ran in, and
    series init / commit spans under the pass. Times in microseconds."""
    spans = []
    traced = {r["pass"] for r in recs if r["rec"] == "pass_mode" and r["traced"]}
    passes = {r["pass"]: r for r in recs if r["rec"] == "pass"}
    harness = {}  # span id -> span, for the spans jobs name
    for p in sorted(traced):
        pr = passes.get(p)
        if pr is None:
            continue
        pid = f"{p}"
        spans.append(dict(id=pid, parent=None, layer="pass", key=None,
                          start=pr["span"][0], end=pr["span"][1]))
        for r in recs:
            if r.get("pass") != p or not r.get("ok", True):
                continue
            if r["rec"] == "key":
                kid = f"{p}/{r['key']}"
                spans.append(dict(id=kid, parent=pid, layer="key", key=r["key"],
                                  start=r["build"][0], end=r["sink"][1]))
                for part in ("build", "sink"):
                    s = dict(id=f"{kid}/{part}", parent=kid, layer=part,
                             key=r["key"], start=r[part][0], end=r[part][1])
                    spans.append(s)
                    harness[s["id"]] = s
            elif r["rec"] in ("commit", "series_init"):
                sid = (f"{p}/commit/{r['i']}" if r["rec"] == "commit"
                       else f"{p}/series/init")
                s = dict(id=sid, parent=pid, key=sid,
                         layer="commit" if r["rec"] == "commit" else "series_init",
                         start=r["span"][0], end=r["span"][1])
                spans.append(s)
                harness[sid] = s
    leaves = sorted(harness.values(), key=lambda s: s["start"])

    def containing(t):
        for s in leaves:
            if s["start"] <= t <= s["end"]:
                return s
        return None

    job_start = {r["job"]: r for r in recs if r["rec"] == "job_start"}
    job_end = {r["job"]: r["t"] for r in recs if r["rec"] == "job_end"}
    jobs = {}
    for j, r in job_start.items():
        owner = harness.get(r["span"]) or containing(r["t"])
        if owner is None:
            continue
        s = dict(id=f"job{j}", parent=owner["id"], layer="job", key=owner["key"],
                 start=r["t"], end=job_end.get(j, r["t"]))
        spans.append(s)
        jobs[j] = s
    for r in recs:
        if r["rec"] == "stage" and r["job"] in jobs:
            j = jobs[r["job"]]
            spans.append(dict(
                id=f"stage{r['stage']}", parent=j["id"], layer="stage",
                key=j["key"], start=r["start"], end=r["end"],
                **{k: r[k] for k in ("tasks", "run_ms", "cpu_ns", "gc_ms",
                                     "shuffle_read_b", "shuffle_write_b",
                                     "spill_b")}))
        elif r["rec"] == "phase":
            owner = containing(r["start"])
            if owner is not None:
                spans.append(dict(id=f"plan{len(spans)}", parent=owner["id"],
                                  layer="plan." + r["name"], key=owner["key"],
                                  start=r["start"], end=r["end"]))
    return spans


def self_times(spans):
    """Self time per span id (microseconds). Each span is first clipped to
    its parent. Every instant of a root span then belongs to the spans
    active at that instant that have no active child, split equally when
    several run at once. So concurrent jobs or stages are not counted
    twice, and the self times under a root add up to its wall."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    selfs = {s["id"]: 0.0 for s in spans}
    for root in kids.get(None, []):
        tree, stack = [], [(root, root["start"], root["end"])]
        while stack:
            s, lo, hi = stack.pop()
            a, b = clip((s["start"], s["end"]), (lo, hi))
            tree.append((s["id"], s["parent"], a, max(a, b)))
            stack += [(c, a, max(a, b)) for c in kids.get(s["id"], [])]
        cuts = sorted({t for _, _, a, b in tree for t in (a, b)})
        for t0, t1 in zip(cuts, cuts[1:]):
            active = [(i, p) for i, p, a, b in tree if a <= t0 and b >= t1]
            parents = {p for _, p in active}
            leaves = [i for i, _ in active if i not in parents]
            for i in leaves:
                selfs[i] += (t1 - t0) / len(leaves)
    return selfs


# -------------------------------------------------------------- metrics
def median(values):
    return statistics.median(values) if values else None


RUNS = ("key", "series_init", "commit")


def ok_passes(recs):
    """Timed passes in which every key run and commit succeeded."""
    timed = [r for r in recs if r["rec"] == "pass" and r["timed"]]
    bad = {r["pass"] for r in recs
           if r["rec"] in RUNS and not r.get("ok", True)}
    return [r for r in timed if r["pass"] not in bad]


def failures(recs, digest_mismatch, series_mismatch):
    """(attempted, failed): key runs, series set-ups and commits
    attempted, the untimed ones included; failed counts those that threw,
    plus each verified key output whose digest mismatched and each pass
    whose commit series ended with the wrong table."""
    runs = [r for r in recs if r["rec"] in RUNS]
    failed = sum(1 for r in runs if not r.get("ok", True))
    return len(runs), failed + len(digest_mismatch) + len(series_mismatch)


def wall(span):
    return (span[1] - span[0]) / 1e6


def commit_walls(recs):
    """Latency of every successful commit of the timed passes."""
    timed = {r["pass"] for r in recs if r["rec"] == "pass" and r["timed"]}
    return [wall(r["span"]) for r in recs
            if r["rec"] == "commit" and r["ok"] and r["pass"] in timed]


def end_to_end(recs, launch_us):
    """setup_s, pass_s and heap_peak_mb of a run, plus the raw pass walls.

    pass_s is the typical wall of one pass: the sum over the workload's
    keys of each key's median wall across the passes that succeeded, plus
    the median wall of the commit series (set-up through last commit).
    Keys run one at a time, so this is the median pass rebuilt from
    per-key medians; one slow key in one pass moves it less than it moves
    the median of whole-pass walls."""
    timed_start = next(r["t"] for r in recs if r["rec"] == "timed_start")
    ok = ok_passes(recs)
    good = {r["pass"] for r in ok}
    per_key, series = {}, {}
    for r in recs:
        if r.get("pass") not in good:
            continue
        if r["rec"] == "key":
            per_key.setdefault(r["key"], []).append(wall([r["build"][0], r["sink"][1]]))
        elif r["rec"] in ("series_init", "commit"):
            s = series.setdefault(r["pass"], list(r["span"]))
            s[0], s[1] = min(s[0], r["span"][0]), max(s[1], r["span"][1])
    pass_s = (sum(median(v) for v in per_key.values())
              + (median([wall(s) for s in series.values()]) if series else 0.0)
              if good else None)
    timed = {r["pass"] for r in recs if r["rec"] == "pass" and r["timed"]}
    heap = [r["old_gen_mb"] for r in recs if r["rec"] == "heap" and r["pass"] in timed]
    # one retained-heap sample per timed pass, taken at its end
    return dict(setup_s=(timed_start - launch_us) / 1e6, pass_s=pass_s,
                pass_walls=[wall(r["span"]) for r in ok], heap_peak_mb=median(heap))


def per_pass_layers(recs, spans):
    """Per-layer sums for each traced pass."""
    selfs = self_times(spans)
    out = []
    passes = [s for s in spans if s["layer"] == "pass"]
    parent = {s["id"]: s["parent"] for s in spans}

    def pass_of(sid):
        while parent.get(sid) is not None:
            sid = parent[sid]
        return sid

    for ps in passes:
        pid = ps["id"]
        mine = [s for s in spans if pass_of(s["id"]) == pid]
        layer = lambda name: [s for s in mine if s["layer"] == name]
        dur = lambda ss: sum(s["end"] - s["start"] for s in ss) / 1e6
        stages = layer("stage")
        jobs = layer("job")
        builds = {s["id"] for s in layer("build")}
        keyrecs = [r for r in recs if r["rec"] == "key" and r["pass"] == int(pid)
                   and r["ok"]]
        commits = [r for r in recs if r["rec"] == "commit" and r["pass"] == int(pid)
                   and r["ok"]]
        ctr = [sum(r["counters"][i] for r in keyrecs + commits) for i in range(4)]
        base = ctr[0] + ctr[1]
        m = dict(
            pass_wall_s=(ps["end"] - ps["start"]) / 1e6,
            build_s=dur(layer("build")),
            build_jobs=sum(1 for j in jobs if j["parent"] in builds),
            sink_s=dur(layer("sink")),
            jobs=len(jobs), stages=len(stages),
            tasks=sum(s["tasks"] for s in stages),
            driver_idle_s=((ps["end"] - ps["start"]) - union_length(
                [clip((j["start"], j["end"]), (ps["start"], ps["end"]))
                 for j in jobs])) / 1e6,
            analysis_s=dur(layer("plan.analysis")),
            optimization_s=dur(layer("plan.optimization")),
            planning_s=dur(layer("plan.planning")),
            task_s=sum(s["run_ms"] for s in stages) / 1e3,
            task_cpu_s=sum(s["cpu_ns"] for s in stages) / 1e9,
            gc_s=sum(s["gc_ms"] for s in stages) / 1e3,
            shuffle_read_mb=sum(s["shuffle_read_b"] for s in stages) / MB,
            shuffle_write_mb=sum(s["shuffle_write_b"] for s in stages) / MB,
            spill_mb=sum(s["spill_b"] for s in stages) / MB,
            commit_s=dur(layer("commit")),
            commit_files_written=sum(r["files_written"] for r in commits),
            manifest_bytes=commits[-1]["manifest_bytes"] if commits else 0,
            blocks_read=ctr[0], blocks_skipped=ctr[1],
            files_bloom_skipped=ctr[2], files_partition_skipped=ctr[3],
            block_skip_ratio=ctr[1] / base if base else 0.0,
            block_skip_base=base,
            persisted_rdds_left=sum(r["rdds_left"] for r in keyrecs),
        )
        for name in ("pass", "key", "build", "sink", "job", "stage", "commit",
                     "series_init"):
            m[f"self_{name}_s"] = sum(selfs[s["id"]] for s in layer(name)) / 1e6
        m["self_plan_s"] = sum(selfs[s["id"]] for s in mine
                               if s["layer"].startswith("plan.")) / 1e6
        out.append(m)
    return out


def layer_metrics(recs):
    """Per-layer values of a traced run: the median over traced passes of
    each per-pass sum, commit latencies pooled over timed passes, and the
    tracing overhead (traced minus untraced pass wall). Returns the values
    with the spans and per-pass sums they came from."""
    spans = build_spans(recs)
    layers = per_pass_layers(recs, spans)
    traced = {r["pass"] for r in recs if r["rec"] == "pass_mode" and r["traced"]}
    untraced = [wall(r["span"]) for r in ok_passes(recs) if r["pass"] not in traced]
    values = {k: median([m[k] for m in layers]) for k in (layers[0] if layers else ())
              if k != "pass_wall_s"}
    traced_s = median([m["pass_wall_s"] for m in layers])
    untraced_s = median(untraced)
    commits = commit_walls(recs)
    tail = tail_percentile(commits)
    values.update(
        traced_pass_s=traced_s, untraced_pass_s=untraced_s,
        trace_overhead_s=(traced_s - untraced_s
                          if traced_s is not None and untraced_s is not None else None),
        commit_p50_s=median(commits) or 0.0,
        commit_tail_s=tail[1] if tail else 0.0,
        commit_tail_pct=tail[0] if tail else 0,
        commit_samples=len(commits))
    return values, spans, layers
