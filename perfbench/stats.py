"""Statistics over the record file the workload JVM writes.

The JVM only measures and records (one JSON object per line, `kind`
names the record); every number the benchmark reports is computed here,
so the rules below are unit-tested in `perfbench/tests`.
"""
import datetime
import json
import os
import statistics
import time

MIN_BEYOND = 10  # a percentile is reported only with this many samples beyond it


def read_records(path):
    out = []
    if os.path.exists(path):
        with open(path) as fh:
            out = [json.loads(line) for line in fh if line.strip()]
    return out


def percentile(values, q):
    """The q-quantile (0 < q < 1) of `values` by linear interpolation, or
    None unless at least MIN_BEYOND samples lie beyond it on each side."""
    xs = sorted(values)
    n = len(xs)
    if n == 0 or round(min(q, 1 - q) * n, 6) < MIN_BEYOND:
        return None
    pos = q * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return statistics.median(values) if values else None


# ---------------------------------------------------------------- stream

def _epoch_ms(iso):
    """A progress timestamp (`2026-10-17T04:17:33.123Z`) as epoch ms."""
    t = datetime.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")
    return t.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000.0


def _offset(o):
    return None if o in (None, "null") else int(str(o).strip().strip('"'))


def triggers(progress_records):
    """[(start_offset, end_offset, start_ms, end_ms, progress)] in order;
    a start offset of None means the trigger started the stream."""
    out = []
    for r in progress_records:
        p = r["progress"]
        src = p["sources"][0]
        start = _epoch_ms(p["timestamp"])
        out.append((_offset(src.get("startOffset")), _offset(src["endOffset"]),
                    start, start + p["durationMs"].get("triggerExecution", 0), p))
    return out


def attribute(versions, trigs, first_version):
    """Maps each appended version to the trigger that processed it.

    `versions`: [(v, due_ms)]; `trigs`: as from `triggers`; versions
    before `first_version` were never offered to the stream. A trigger
    covers the versions in (start_offset, end_offset]; an empty trigger
    (start == end) covers none and a merged one covers several. Returns
    ({v: latency_ms}, {v: number of triggers covering v}): the latency
    runs from the version's due time to the end of the first trigger
    covering it; a version covered 0 times was lost, >1 times duplicated.
    """
    latency, cover = {}, {}
    for v, due in versions:
        cover[v] = 0
        for start, end, _, t_end, _ in trigs:
            lo = first_version - 1 if start is None else start
            if lo < v <= end:
                cover[v] += 1
                if v not in latency:
                    latency[v] = t_end - due
    return latency, cover


def lag_series(commits, trigs):
    """Per trigger, in versions: the newest version committed by the end
    of the trigger minus the trigger's end offset. `commits`: [(v, ms)]."""
    out = []
    for _, end, _, t_end, _ in trigs:
        head = max((v for v, c in commits if c <= t_end), default=end)
        out.append(max(0, head - end))
    return out


# ----------------------------------------------------------------- spans

def self_times(spans):
    """Self time per layer, in seconds: each span's duration minus the
    part of it covered by its direct children (children are clipped to
    the parent and overlapping children count once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in sorted((max(c["start_ns"], lo), min(c["end_ns"], hi))
                           for c in kids.get(s["id"], [])):
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["layer"]] = out.get(s["layer"], 0.0) + (hi - lo - covered) / 1e9
    return out


# ----------------------------------------------------------- environment

def environment():
    """What else the machine was doing: cores, load, other JVMs, and a
    single-core CPU probe (µs for a fixed pure-Python loop, median of 5)."""
    load1 = os.getloadavg()[0]
    others = 0
    for pid in os.listdir("/proc"):
        if pid.isdigit() and int(pid) != os.getpid():
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    others += fh.read().strip() == "java"
            except OSError:
                pass
    probe = []
    for _ in range(5):
        t = time.perf_counter()
        x = 0
        for i in range(200_000):
            x ^= i * 2654435761 & 0xFFFFFFFF
        probe.append((time.perf_counter() - t) * 1e6)
    return {"nproc": os.cpu_count(), "load1": load1, "other_jvms": others,
            "cpu_probe_us": round(statistics.median(probe), 1)}


# -------------------------------------------------------------- metrics

E2E_UNITS = {"setup_s": "s", "op_ms": "ms", "work_s": "s", "peak_rss_mb": "MB"}
# the batch workload's queries and their QueryGroup: three relational
# groups and five whose queries are dominated by expression kernels
# (`rpProject`, `lshBucket`, `minHashSigs`, `repMetrics`, text hashing)
QUERY_GROUPS = {
    "global_aggs": "CoreOps", "rolling_time_1h": "WindowOps",
    "join_inner_agg": "JoinOps", "text_langid_ngram": "TextOps",
    "dedup_minhash_lsh": "DedupOps", "embed_project": "SimilarityOps",
    "text_hash_features": "MlOps", "quality_repetition": "CurationOps"}
GROUPS = list(dict.fromkeys(QUERY_GROUPS.values()))
KERNELS = ["nfc", "tokens", "shingles3", "minHashSigs", "bandHashes",
           "repMetrics", "simHash", "lshBucket", "rpProject", "doubleDot",
           "decimalDot"]
STAGES = ["ingest", "dedup_verdicts", "compact", "vacuum", "follow", "curate",
          "takedown"]
ENGINE = ["jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
          "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "serial_stage_s"]
PHASES = ["queryPlanning", "addBatch", "walCommit", "commitOffsets"]
TRIGGER_PHASES = ["latestOffset", "getBatch"] + PHASES + ["total"]
SELF_LAYERS = ["queries", "queries.plan", "queries.exec", "tablelog",
               "streaming", "trigger", "trigger.phase", "pipeline"]
LATE_LIMIT_MS = 5000  # a version processed later than this is a failure


def per_layer_names():
    """Every per-layer metric, in report order, with its unit."""
    unit = {"s": "s", "mb": "MB"}
    out = [(f"spark.{k}", unit.get(k.rsplit("_", 1)[-1], "count")) for k in ENGINE]
    out += [("spark.task_skew", "ratio"), ("queries.plan_s", "s"),
            ("queries.exec_s", "s")]
    out += [(f"queries.{g}_s", "s") for g in GROUPS]
    out += [(f"kernel.{k}_us", "us") for k in KERNELS]
    out += [("tablelog.append_mean_ms.light", "ms"),
            ("tablelog.append_max_ms.light", "ms"),
            ("tablelog.append_mean_ms.outage", "ms"),
            ("tablelog.versions", "count"), ("tablelog.files_live", "count"),
            ("tablelog.bytes_written_per_input_byte", "ratio")]
    for r in ("light", "catchup"):
        out += [(f"trigger.{p}_ms.{r}", "ms") for p in TRIGGER_PHASES]
        out += [(f"state.rows_total.{r}", "count"),
                (f"state.rows_updated.{r}", "count"),
                (f"state.memory_mb.{r}", "MB"), (f"state.commit_ms.{r}", "ms")]
    out += [("sources.lag_versions_max.light", "count"),
            ("sources.lag_growth.light", "count"),
            ("sources.backlog_versions.catchup", "count"),
            ("gen.late_max_ms.light", "ms"),
            ("stream.rows_per_trigger", "count"),
            ("stream.versions_per_trigger", "count"),
            ("catchup.triggers", "count"), ("catchup.events_per_s", "1/s")]
    out += [(f"pipeline.{s}_s", "s") for s in STAGES]
    out += [("dedup.keeper_ratio", "ratio"), ("curate.admit_ratio", "ratio")]
    out += [(f"selftime.{layer}_s", "s") for layer in SELF_LAYERS]
    out += [("trace.overhead_pct", "%")]
    return out


def _kind(records, kind):
    return [r for r in records if r["kind"] == kind]


class Run:
    """Everything one run reports: checks, counts, metrics and notes."""

    def __init__(self):
        self.notes, self.checks = [], []
        self.attempted = self.failed = 0
        self.e2e, self.layer = {}, {}

    def check(self, name, ok, detail=""):
        self.checks.append((name, ok, detail))
        if not ok:
            self.notes.append(f"CHECK FAILED {name}: {detail}")


def measured_passes(passes):
    """The passes a batch run's figures come from: all but the first, which
    still warms up; a single-pass (reduced) run reports its one pass."""
    return [p for p in passes if p["pass"] > 0] or passes


def _batch(run, recs, expected, warmed=True):
    """`warmed`: the run had the warm-up pass that fingerprints every
    query (a stream run's reduced batch pass has none)."""
    want = expected["batch_queries"]["fingerprints"]
    fps = _kind(recs, "fingerprint")
    for f in fps:
        exp = want.get(f["query"])
        ok = exp is not None and exp == {"rows": f["rows"], "hash": f["hash"]}
        run.check(f"fingerprint.{f['query']}", ok,
                  f"got rows={f['rows']} hash={f['hash']}, recorded {exp}")
        run.failed += not ok
    if warmed:
        missing = sorted(set(want) - {f["query"] for f in fps})
        run.check("fingerprint.all_queries", not missing, f"not run: {missing}")
        run.failed += len(missing)
    queries = _kind(recs, "query")
    errors = [q for q in queries if q["error"]]
    for q in errors:
        run.check(f"query.{q['query']}", False, q["error"])
    # every execution: the warm-up's and the measured ones
    run.attempted += len(fps) + len(queries)
    run.failed += len(errors)
    passes = _kind(recs, "pass")
    kept = {p["pass"] for p in measured_passes(passes)}
    by_pass, by_query = {}, {}
    for q in queries:
        if q["pass"] in kept:
            by_pass.setdefault(q["pass"], []).append(q)
            by_query.setdefault(q["query"], []).append(1000 * (q["plan_s"] + q["exec_s"]))
    typical = [median(v) for v in by_query.values()]
    # the typical query: the geometric mean over queries of each one's
    # median latency, so that every query weighs the same; a pass at
    # those latencies
    run.e2e["op_ms"] = statistics.geometric_mean(typical) if typical else None
    run.e2e["work_s"] = sum(typical) / 1000 if typical else None
    L = run.layer
    L["queries.plan_s"] = median([sum(q["plan_s"] for q in qs) for qs in by_pass.values()])
    L["queries.exec_s"] = median([sum(q["exec_s"] for q in qs) for qs in by_pass.values()])
    for g in GROUPS:
        L[f"queries.{g}_s"] = median([sum(q["plan_s"] + q["exec_s"] for q in qs
                                          if q["group"] == g) for qs in by_pass.values()])
    traced = [p["s"] for p in passes if p["traced"] and p["pass"] in kept]
    untraced = [p["s"] for p in passes if not p["traced"] and p["pass"] in kept]
    if traced and untraced:
        L["trace.overhead_pct"] = 100 * (median(traced) / median(untraced) - 1)
    return traced_passes(recs)


def traced_passes(recs):
    """How many batch passes ran traced (at least 1): the unit the batch
    layers' counters and self times are reported per."""
    return max(1, sum(1 for p in _kind(recs, "pass") if p["traced"]))


def _pct(run, name, values, q):
    v = percentile(values, q)
    if v is None:
        run.notes.append(f"{name}: {len(values)} samples cannot support the "
                         f"{int(q * 100)}th percentile")
    return v


def _durations(progress):
    """A trigger's phase durations; `latestOffset` is `getOffset` for a v1
    source and `total` is the whole trigger."""
    d = progress["durationMs"]
    out = {p: d.get(p, 0) for p in TRIGGER_PHASES}
    out["latestOffset"] = d.get("latestOffset", d.get("getOffset", 0))
    out["total"] = d.get("triggerExecution", 0)
    return out


def _state(run, r, trigs, agg):
    ops = [t[4]["stateOperators"][0] for t in trigs if t[4].get("stateOperators")]
    if ops:
        run.layer[f"state.rows_total.{r}"] = ops[-1]["numRowsTotal"]
        run.layer[f"state.rows_updated.{r}"] = agg([o["numRowsUpdated"] for o in ops])
        run.layer[f"state.memory_mb.{r}"] = ops[-1]["memoryUsedBytes"] / 1e6
        run.layer[f"state.commit_ms.{r}"] = agg([o["commitTimeMs"] for o in ops])
    for p in TRIGGER_PHASES:
        run.layer[f"trigger.{p}_ms.{r}"] = agg([_durations(t[4])[p] for t in trigs])


def _stream(run, recs):
    versions = _kind(recs, "version")
    trigs = triggers(_kind(recs, "trigger"))
    first = min(v["v"] for v in versions)
    latency, cover = attribute([(v["v"], v["due_ms"]) for v in versions], trigs, first)
    lost = [v for v, c in cover.items() if c == 0]
    dup = [v for v, c in cover.items() if c > 1]
    light = [v for v in versions if v["rung"] == "light"]
    late = [v["v"] for v in light if latency.get(v["v"], 0) > LATE_LIMIT_MS]
    run.check("stream.coverage", not lost and not dup,
              f"lost versions {lost[:10]}, duplicated {dup[:10]}")
    run.attempted += len(versions)
    run.failed += len(set(lost) | set(dup) | set(late))
    if late:
        run.notes.append(f"stream: {len(late)} versions later than {LATE_LIMIT_MS} ms")
    for c in _kind(recs, "check"):
        run.check(c["name"], c["ok"], c["detail"])
        run.failed += not c["ok"]
    L = run.layer
    # the light rung: latency, lag and the generator's punctuality
    lt = [t for t in trigs if _covers(t, light)]
    lags = lag_series([(v["v"], v["end_ms"]) for v in versions], lt)
    third = max(1, len(lags) // 3)
    growth = (sum(lags[-third:]) - sum(lags[:third])) / third if lags else 0.0
    late_max = max(v["start_ms"] - v["due_ms"] for v in light)
    tick = next(r["tick_ms"] for r in _kind(recs, "rung") if r["rung"] == "light")
    if growth > 1 or late_max > tick:
        run.notes.append(f"stream light rung INVALID: backlog growth {growth:.2f} "
                         f"versions, generator late by up to {late_max} ms (tick "
                         f"{tick} ms); its latency is not reported")
        run.failed += len(light)
    else:
        run.e2e["op_ms"] = _pct(run, "op_ms",
                                [latency[v["v"]] for v in light if v["v"] in latency], 0.5)
    app = [v["end_ms"] - v["start_ms"] for v in light]
    L["tablelog.append_mean_ms.light"] = statistics.mean(app)
    L["tablelog.append_max_ms.light"] = max(app)
    outage = [v["end_ms"] - v["start_ms"] for v in versions if v["rung"] == "outage"]
    L["tablelog.append_mean_ms.outage"] = statistics.mean(outage)
    L["gen.late_max_ms.light"] = late_max
    L["sources.lag_versions_max.light"] = max(lags, default=0)
    L["sources.lag_growth.light"] = growth
    _state(run, "light", lt, median)
    L["stream.rows_per_trigger"] = median([t[4]["numInputRows"] for t in lt])
    L["stream.versions_per_trigger"] = median([t[1] - t[0] for t in lt])
    # the catch-ups after the restarts: each cycle's figures, then the
    # median over cycles
    cycles = []
    for cu in _kind(recs, "catchup"):
        after = [t for t in trigs if t[2] >= cu["restart_ms"]]
        done = [i for i, t in enumerate(after) if t[1] >= cu["to_v"]]
        run.check("stream.catchup", cu["caught_up"] and bool(done),
                  f"restart at version {cu['from_v']} reached head: {cu['caught_up']}")
        if done:
            work = after[:done[0] + 1]
            c = Run()
            s = (work[-1][3] - cu["restart_ms"]) / 1000
            c.layer.update({"work_s": s, "catchup.triggers": len(work),
                            "catchup.events_per_s": cu["events"] / s,
                            "sources.backlog_versions.catchup": cu["to_v"] - cu["from_v"]})
            _state(c, "catchup", work, sum)
            cycles.append(c.layer)
    for k in (cycles[0] if cycles else {}):
        L[k] = median([c[k] for c in cycles])
    run.e2e["work_s"] = L.pop("work_s", None)
    table = _kind(recs, "table")
    if table:
        L["tablelog.versions"] = table[0]["versions"]
        # input: three 8-byte longs per event
        L["tablelog.bytes_written_per_input_byte"] = table[0]["bytes"] / (24 * table[0]["rows"])
    return len(light)


def _covers(t, vs):
    """Whether trigger `t` covers any of the versions `vs`."""
    return t[0] is not None and any(t[0] < v["v"] <= t[1] for v in vs)


def _pipeline(run, recs, expected):
    """The lake pipeline pass of a traced run."""
    passes = _kind(recs, "pipeline")
    if not passes:
        return
    p = passes[0]
    want = expected["pipeline"]
    ok = p["curated"] == want["curated_docs"] and p["token_budget"] == want["token_budget"]
    run.check("pipeline.curate", ok, f"curated_docs={p['curated']} token_budget="
              f"{p['token_budget']}, recorded {want}")
    run.failed += not ok
    stages = _kind(recs, "stage")
    run.attempted += len(stages)
    L = run.layer
    for s in stages:
        L[f"pipeline.{s['stage']}_s"] = s["s"]
    L["dedup.keeper_ratio"] = p["keepers"] / p["docs"]
    L["curate.admit_ratio"] = p["curated"] / max(1, p["keepers"])
    L["tablelog.files_live"] = p["files_live"]


def _engine(run, recs, units, phases):
    """Listener totals over the measured phases, per unit of work."""
    es = [e for e in _kind(recs, "engine") if phases(e["phase"])]
    L = run.layer
    for k in ENGINE:
        L[f"spark.{k}"] = sum(e[k] for e in es) / units
    L["spark.task_skew"] = median([s for e in es for s in e["skews"]])


def _spans(run, recs):
    """Self time per layer over the traced part of the measured phase: the
    query layers per traced batch pass, the others over their whole phase."""
    spans = _kind(recs, "span")
    # trigger spans from the engine's own progress reports, with the
    # durationMs phases laid end to end as children
    next_id = max([s["id"] for s in spans], default=0) + 1
    measured = [r for r in _kind(recs, "trigger") if r["rung"] != "warmup"]
    for start, end, t0, t1, p in triggers(measured):
        tid = next_id
        next_id += 1
        spans.append({"id": tid, "parent": 0, "layer": "trigger", "name": "trigger",
                      "start_ns": int(t0 * 1e6), "end_ns": int(t1 * 1e6)})
        cur = t0
        for ph in ["latestOffset", "getOffset", "getBatch"] + PHASES:
            ms = p["durationMs"].get(ph)
            if ms:
                spans.append({"id": next_id, "parent": tid, "layer": "trigger.phase",
                              "name": ph, "start_ns": int(cur * 1e6),
                              "end_ns": int((cur + ms) * 1e6)})
                next_id += 1
                cur += ms
    st = self_times(spans)
    for layer in SELF_LAYERS:
        if layer in st:
            units = traced_passes(recs) if layer.startswith("queries") else 1
            run.layer[f"selftime.{layer}_s"] = st[layer] / units


def _reduced(run, fn, *args):
    """Layer metrics, checks and counts of the other workload's reduced
    form in a traced run; its end-to-end figures are not reported."""
    o = Run()
    fn(o, *args)
    run.layer.update(o.layer)
    run.checks += o.checks
    run.notes += [n for n in o.notes if "cannot support" not in n]
    run.attempted += o.attempted
    run.failed += o.failed


def summarize(workload, records, expected, trace, env, rss_mb):
    run = Run()
    setup = _kind(records, "setup")[0]
    run.e2e["setup_s"] = setup["session_s"] + median(setup["prepare_s"]) + setup["warmup_s"]
    run.e2e["peak_rss_mb"] = rss_mb
    if workload == "batch_queries":
        if _kind(records, "version"):
            _reduced(run, _stream, records)
        units = _batch(run, records, expected)
        _engine(run, records, units, lambda p: p in GROUPS)
    else:
        if _kind(records, "query"):
            _reduced(run, _batch, records, expected, False)
        units = _stream(run, records)
        _engine(run, records, units, lambda p: p == "stream.light")
        listener = _kind(records, "listener")
        rungs = [r for r in _kind(records, "rung") if r["rung"] == "light"]
        if listener and rungs:
            # the listener bus is the only tracing cost a stream run has:
            # its callbacks' time over the light rung's span
            span_s = units * rungs[0]["tick_ms"] / 1000
            run.layer["trace.overhead_pct"] = 100 * listener[0]["self_s"] / span_s
    _pipeline(run, records, expected)
    for k in _kind(records, "kernel"):
        run.layer[f"kernel.{k['name']}_us"] = k["us"]
    if trace:
        _spans(run, records)
    run.notes.append("environment: " + json.dumps(env))
    run.notes.append("end-to-end: " + json.dumps(
        {k: round(v, 4) if v is not None else None for k, v in run.e2e.items()}))
    names = per_layer_names() if trace else E2E_UNITS.items()
    values = run.layer if trace else run.e2e
    metrics = {n: {"value": values.get(n), "unit": u} for n, u in names}
    for n, m in metrics.items():
        # a metric the run could not compute is reported as null, not 0
        if m["value"] is None:
            run.check(f"metric.{n}", False, "not computed in this run")
    correct = all(ok for _, ok, _ in run.checks)
    return {"notes": run.notes, "correct": correct, "attempted": max(1, run.attempted),
            "failed": run.failed, "metrics": metrics}
