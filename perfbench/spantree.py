"""Span tree of one traced run, and the per-layer metrics read from it.

The harness records its own spans (run phases, layout families, passes,
queries and their construct / sink parts) with parent links, and the raw
events of Spark's listeners: jobs (tagged with the job group the harness
set), stages, Catalyst phase times and streaming micro-batches. This module
hangs every event under a harness span -- a job under the span whose group
it carries, else under the innermost span open when it started; a stage
under its job; a Catalyst phase or a micro-batch under the innermost span
open when it started -- and computes each span's self time: its duration
minus the part of it that its children cover (see Tree._index).
"""
import bisect
import statistics

from workloads import LAYOUT_FAMILIES, QUERY_FAMILIES

# Listener times are whole milliseconds; harness times are not.
TOL_MS = 2.0

LAYER = {
    "session": "sessions", "layout": "layout", "probe": "layout",
    "construct": "queries", "sink": "sink", "catalyst": "catalyst",
    "job": "exec", "stage": "exec", "batch": "streaming",
    "query": "harness", "pass": "harness",
}
SELF_LAYERS = ("queries", "catalyst", "sink", "exec", "streaming", "harness")
CATALYST_PHASES = {"parsing": "analysis", "analysis": "analysis",
                   "optimization": "optimization", "planning": "planning"}


class Tree:
    def __init__(self, rec):
        self.rec = rec
        self.spans = [dict(s) for s in rec.get("spans", [])]
        self.children = {s["id"]: [] for s in self.spans}
        self.roots = []
        for s in self.spans:
            (self.children[s["parent"]] if s["parent"] >= 0 else self.roots).append(s["id"])
        self.by_group = {s["group"]: s["id"] for s in self.spans if s.get("group")}
        self._attach_events()
        self._index()

    # -- building
    def _add(self, kind, name, start, end, parent, **attrs):
        sid = len(self.spans)
        self.spans.append(dict(id=sid, parent=parent, kind=kind, name=name,
                               start=start, end=end, **attrs))
        self.children[sid] = []
        self.children[parent].append(sid)
        return sid

    def innermost(self, t):
        """Deepest harness span open at time t. Harness spans nest strictly,
        and each one's children were created, so are listed, in start order."""
        level, best = self.roots, None
        while True:
            starts = [self.spans[i]["start"] for i in level]
            k = bisect.bisect_right(starts, t + TOL_MS) - 1
            if k < 0:
                return best
            s = self.spans[level[k]]
            if s["end"] + TOL_MS < t:
                return best
            best = s["id"]
            level = [c for c in self.children[best]
                     if self.spans[c]["kind"] not in ("job", "stage", "catalyst", "batch")]

    def _attach_events(self):
        stage_job = {}
        for j in self.rec.get("jobs", []):
            end = j["end"] if j["end"] is not None else j["start"]
            parent = self.by_group.get(j["group"])
            if parent is None:
                parent = self.innermost(j["start"])
            if parent is None:
                continue
            jid = self._add("job", str(j["id"]), j["start"], end, parent, ok=j["ok"])
            for st in j["stages"]:
                stage_job.setdefault(st, jid)
        for st in self.rec.get("stages", []):
            if not st["start"]:
                continue  # skipped stage: its output was reused, no task ran
            parent = stage_job.get(st["id"])
            if parent is None:
                parent = self.innermost(st["start"])
            if parent is None:
                continue
            end = st["end"] or st["start"]
            self._add("stage", f'{st["id"]}.{st["attempt"]}', st["start"], end, parent, **{
                k: v for k, v in st.items() if k not in ("id", "start", "end")})
        for n, qe in enumerate(self.rec.get("catalyst", [])):
            for ph in qe["phases"]:
                parent = self.innermost(ph["start"])
                if parent is not None:
                    self._add("catalyst", ph["phase"], ph["start"], ph["end"], parent, qe=n)
        for b in self.rec.get("stream_batches", []):
            parent = self.innermost(b["start"])
            if parent is not None:
                self._add("batch", f'{b["name"]}#{b["batch"]}', b["start"], b["end"], parent,
                          **{k: b[k] for k in ("durations", "state_commit_ms", "state_rows",
                                               "input_rows")})

    def _index(self):
        """Per span: its pass label (or None), its query name, and self time.

        Self time is the part of a span's interval that none of its children
        covers. Where children overlap each other (parallel stages, a
        broadcast job beside the main one) the overlap is shared evenly among
        them, so the self times of a subtree add up to its root's duration.
        """
        weights = {}
        for s in self.spans:  # listed by id, so parents come first
            p = self.spans[s["parent"]] if s["parent"] >= 0 else None
            s["layer"] = LAYER.get(s["kind"], "harness")
            s["pass"] = s["name"] if s["kind"] == "pass" else (p["pass"] if p else None)
            s["query"] = s["name"] if s["kind"] == "query" else (p["query"] if p else None)
            segs = weights.pop(s["id"], [(s["start"], s["end"], 1.0)])
            s["self"] = self._share(s, segs, weights) / 1e3

    def _share(self, s, segs, weights):
        """Hand each child its share of `segs` (the span's weighted time);
        return what no child takes."""
        kids = [self.spans[c] for c in self.children[s["id"]]]
        own = 0.0
        for a, b, w in segs:
            cuts = sorted({a, b} | {min(max(t, a), b) for k in kids for t in (k["start"], k["end"])})
            for x, y in zip(cuts, cuts[1:]):
                active = [k for k in kids if k["start"] <= x and k["end"] >= y]
                if not active:
                    own += (y - x) * w
                for k in active:
                    weights.setdefault(k["id"], []).append((x, y, w / len(active)))
        for k in kids:
            weights.setdefault(k["id"], [])
        return own

    def timed(self, kind):
        """Spans of `kind` inside the timed passes."""
        return [s for s in self.spans
                if s["kind"] == kind and s["pass"] and s["pass"].startswith("p")]


def containment_errors(spans, tol=TOL_MS):
    """Spans that stick out of their parent by more than the tolerance."""
    bad = []
    for s in spans:
        if s["parent"] < 0:
            continue
        p = spans[s["parent"]]
        if s["start"] < p["start"] - tol or s["end"] > p["end"] + tol:
            bad.append(f'{s["kind"]}:{s["name"]} [{s["start"]:.1f},{s["end"]:.1f}] outside '
                       f'{p["kind"]}:{p["name"]} [{p["start"]:.1f},{p["end"]:.1f}]')
    return bad


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def pass_figures(rec):
    """Medians over the timed passes of their summed query walls and
    executor CPU, and every timed query wall (failed queries left out)."""
    passes = [[q for q in p["queries"] if q["ok"]] for p in rec["passes"]]
    return {
        "pass_s": _median([sum(q["wall_s"] for q in p) for p in passes]),
        "pass_cpu_s": _median([sum(q["cpu_s"] for q in p) for p in passes]),
        "walls": [q["wall_s"] for p in passes for q in p],
        "passes": len(passes),
    }


def per_layer(rec, tree):
    """Every per-layer metric; counts and times are per timed pass."""
    figures = pass_figures(rec)
    n = figures["passes"] or 1.0
    m = {}
    built = rec["layouts"]
    m["sessions.build_s"] = sum(s["end"] - s["start"] for s in tree.spans
                                if s["kind"] == "session") / 1e3
    m["layout.build_s"] = sum(f["wall_s"] for f in built.values())
    m["layout.build_cpu_s"] = sum(f["cpu_s"] for f in built.values())
    m["layout.bytes"] = rec["layout_bytes"]
    m["layout.probe_s"] = sum(rec.get("probe_s", {}).values())
    m["layout.misses"] = len(rec["layout_misses"])
    for fam in LAYOUT_FAMILIES:
        m[f"layout.build_s.{fam}"] = built.get(fam, {}).get("wall_s", 0.0)

    constructs, sinks = tree.timed("construct"), tree.timed("sink")
    jobs, stages = tree.timed("job"), tree.timed("stage")
    construct_ids = {s["id"] for s in constructs}
    construct_jobs = {j["id"] for j in jobs if j["parent"] in construct_ids}
    m["queries.construct_s"] = sum(s["end"] - s["start"] for s in constructs) / 1e3 / n
    m["queries.construct_jobs"] = len(construct_jobs) / n
    m["queries.construct_cpu_s"] = sum(st["cpu_ns"] for st in stages
                                       if st["parent"] in construct_jobs) / 1e9 / n

    cat = tree.timed("catalyst")
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_s"] = sum(c["end"] - c["start"] for c in cat
                                    if CATALYST_PHASES.get(c["name"]) == ph) / 1e3 / n
    m["catalyst.executions"] = len({c["qe"] for c in cat}) / n

    m["exec.jobs"] = len(jobs) / n
    m["exec.stages"] = len(stages) / n
    m["exec.tasks"] = sum(st["tasks"] for st in stages) / n
    m["exec.cpu_s"] = sum(st["cpu_ns"] for st in stages) / 1e9 / n
    m["exec.run_s"] = sum(st["run_ms"] for st in stages) / 1e3 / n
    m["exec.gc_s"] = sum(st["gc_ms"] for st in stages) / 1e3 / n
    m["exec.sched_delay_s"] = sum(st["wait_ms"] for st in stages) / 1e3 / n
    m["exec.shuffle_write_bytes"] = sum(st["shuffle_write"] for st in stages) / n
    m["exec.shuffle_read_bytes"] = sum(st["shuffle_read"] for st in stages) / n
    m["exec.spill_bytes"] = sum(st["spill"] for st in stages) / n
    m["exec.peak_exec_mem_bytes"] = max([st["peak_mem"] for st in stages], default=0)
    m["exec.input_bytes"] = sum(st["input"] for st in stages) / n
    m["exec.task_failures"] = sum(st["task_failures"] for st in stages) / n
    m["exec.stage_retries"] = sum(1 for st in stages if st["attempt"] > 0) / n
    pass_s = figures["pass_s"]
    m["trace.pass_s"] = pass_s
    m["exec.slot_util"] = m["exec.run_s"] / (pass_s * rec["cpus"]) if pass_s else 0.0

    def sink_exec(s):
        cat_s = sum(tree.spans[c]["end"] - tree.spans[c]["start"] for c in tree.children[s["id"]]
                    if tree.spans[c]["kind"] == "catalyst")
        return (s["end"] - s["start"] - cat_s) / 1e3

    m["sink.execute_s"] = sum(sink_exec(s) for s in sinks) / n

    batches = tree.timed("batch")

    def dur(key):
        return sum(b["durations"].get(key, 0) for b in batches) / 1e3 / n

    m["stream.batches"] = len(batches) / n
    m["stream.trigger_s"] = dur("triggerExecution")
    m["stream.add_batch_s"] = dur("addBatch")
    m["stream.query_planning_s"] = dur("queryPlanning")
    m["stream.wal_commit_s"] = dur("walCommit")
    m["stream.commit_offsets_s"] = dur("commitOffsets")
    m["stream.state_commit_s"] = sum(b["state_commit_ms"] for b in batches) / 1e3 / n
    m["stream.state_rows"] = sum(b["state_rows"] for b in batches) / n
    m["stream.input_rows"] = sum(b["input_rows"] for b in batches) / n

    for fam in QUERY_FAMILIES:
        m[f"queries.construct_s.{fam}"] = sum(
            s["end"] - s["start"] for s in constructs if query_family(s["query"]) == fam) / 1e3 / n
        m[f"sink.execute_s.{fam}"] = sum(
            sink_exec(s) for s in sinks if query_family(s["query"]) == fam) / n
        m[f"exec.cpu_s.{fam}"] = sum(
            st["cpu_ns"] for st in stages if query_family(st["query"]) == fam) / 1e9 / n

    for layer in SELF_LAYERS:
        m[f"self_s.{layer}"] = sum(s["self"] for s in tree.spans if s["layer"] == layer
                                   and s["pass"] and s["pass"].startswith("p")) / n
    m["self_s.sessions"] = sum(s["self"] for s in tree.spans if s["kind"] == "session")
    m["self_s.layout"] = sum(s["self"] for s in tree.spans if s["kind"] == "layout")
    return m


def query_family(query):
    if not query:
        return None
    head = query.split("_")[0]
    return "".join(c for c in head if c.isalpha())
