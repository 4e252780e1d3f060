"""Per-layer metrics from a traced run's raw record.

The harness keys every Spark job to the innermost benchmark span that
was open when it started (its job group). A span's name says which
layer the call went into:

  d<k>/state/<store>/<entity>      EtlRunLog.Store.resolveStartDate
  d<k>/extract/<store>/<entity>    ShopifyClient.extractIncremental + saveToFile
  d<k>/stage                       the whole staging fan-out
  d<k>/stage/<store>/<entity>      one Orchestrator.stageEntity
  d<k>/merge/<entity>              Orchestrator.merge* under withRetries
  d<k>/hook, d<k>/archive          powerBiHook, archiveAndDelete
  p<n>/q/<query>                   one battery query forced by count()

Inside a stageEntity span, each Spark action (a SQL execution, or a job
outside any) is put in a sub-group by its call site, the program frame
that started it: ``.../bronze`` (RawReader.scala), ``.../silver``
(Flatten.scala), ``.../write`` (AtomicTableWriter.scala) or ``.../state``
(EtlRunLog.scala). A job inside a SQL execution takes the execution's
call site, so AQE's query-stage jobs land with the action that ran them.
"""
import re
from collections import defaultdict

from stats import busy_and_gap, union_length

STORES = ("retail", "wholesale")
ENTITIES = ("orders", "customers", "products")
TIERS = ("analytics", "etl", "hygiene", "mining", "sketch", "text", "vector",
         "warehouse")

# name -> unit; the order is the order printed
LAYER_METRICS = [
    ("extract.wall_s", "s"), ("extract.pages", "count"),
    ("extract.rate_wait_s", "s"),
    ("state.wall_s", "s"), ("state.jobs", "count"), ("state.files", "count"),
    ("bronze.wall_s", "s"), ("bronze.probe_s", "s"), ("bronze.rows", "count"),
    ("silver.wall_s", "s"), ("silver.rows", "count"),
    ("write.wall_s", "s"), ("write.bytes", "bytes"), ("write.files", "count"),
    ("stage.wall_s", "s"), ("stage.rows_per_s", "1/s"),
] + [(f"stage.{s}.{e}.wall_s", "s") for s in STORES for e in ENTITIES] + [
    ("merge.wall_s", "s"), ("merge.orders.wall_s", "s"),
    ("merge.customers.wall_s", "s"), ("merge.products.wall_s", "s"),
    ("merge.rows_per_s", "1/s"), ("merge.bytes_rewritten", "bytes"),
    ("merge.write_amp", "ratio"), ("merge.attempts", "count"),
    ("archive.wall_s", "s"),
] + [(f"queries.{t}.wall_s", "s") for t in TIERS] + [
    ("queries.graph.wall_s", "s"),
    ("materialize.cold_builds", "count"), ("materialize.cold_build_s", "s"),
    ("materialize.cache_bytes", "bytes"), ("materialize.jobs", "count"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"), ("catalyst.sql_executions", "count"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.stages_retried", "count"),
    ("scheduler.tasks_failed", "count"),
    ("executor.busy_s", "s"), ("executor.cpu_s", "s"), ("executor.gc_s", "s"),
    ("executor.busy_frac", "ratio"),
    ("driver.gap_s", "s"), ("driver.rdd_jobs", "count"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.spill_bytes", "bytes"),
    ("io.input_bytes", "bytes"), ("io.output_bytes", "bytes"),
    ("trace.wall_s", "s"), ("trace.overhead_s", "s"),
]

_DAY = re.compile(r"^(d\d+|p\d+)/")
_STAGE_ENTITY = re.compile(r"^d\d+/stage/[^/]+/[^/]+$")
SITE_LAYERS = (("RawReader.scala", "bronze"), ("Flatten.scala", "silver"),
               ("AtomicTableWriter.scala", "write"),
               ("EtlRunLog.scala", "state"))


def sub_group(group, call_site):
    """The group an action is counted in: a stageEntity span's actions go
    to the sub-group of their call site's layer."""
    if group and _STAGE_ENTITY.match(group):
        for f, layer in SITE_LAYERS:
            if f" at {f}:" in (call_site or ""):
                return f"{group}/{layer}"
    return group or "(none)"


def phase_key(group):
    """A group without its day/pass prefix: ``stage/retail/orders/write``
    or ``q/q93_pagerank``; None for work outside any span."""
    return _DAY.sub("", group) if group else None


def _dur(x):
    return x["end"] - x["start"]


def per_group(rec):
    """Counts and times per job group, from the listener events."""
    tr = rec["trace"]
    stage_group, g = {}, defaultdict(lambda: defaultdict(float))
    sql = {q["id"]: q for q in tr["sql"]}
    actions = defaultdict(list)
    for q in tr["sql"]:
        grp = sub_group(q["group"], q.get("call_site"))
        actions[grp].append((q["start"], q["end"]))
        g[grp]["sql_executions"] += 1
        for k in ("analysis_s", "optimization_s", "planning_s"):
            g[grp][k] += q[k]
    for j in tr["jobs"]:
        site = (sql[j["sql_id"]].get("call_site") if j["sql_id"] in sql
                else j["call_site"])
        grp = sub_group(j["group"], site)
        if j["sql_id"] is None:
            actions[grp].append((j["start"], j["end"]))
        for sid in j["stages"]:
            stage_group.setdefault(sid, grp)
        g[grp]["jobs"] += 1
        g[grp]["job_s"] += _dur(j)
        g[grp]["rdd_jobs"] += j["sql_id"] is None
        g[grp]["materialize_jobs"] += "Materialize.scala" in (j["call_site"] or "")
    for s in tr["stages"]:
        grp = stage_group.get(s["id"], "(none)")
        g[grp]["stages"] += 1
        g[grp]["stages_retried"] += s["attempt"] > 0
    for t in tr["tasks"]:
        grp = stage_group.get(t["stage"], "(none)")
        g[grp]["tasks"] += 1
        g[grp]["tasks_failed"] += bool(t["failed"])
        g[grp]["busy_s"] += _dur(t)
        for k in ("cpu_s", "gc_s", "shuffle_read", "shuffle_write", "spill",
                  "input_bytes", "output_bytes", "records_written"):
            g[grp][k] += t[k]
    for grp, spans in actions.items():
        g[grp]["action_s"] = union_length(spans)
    return {k: dict(v) for k, v in g.items()}


def per_phase(rec):
    """Per-group counts summed over days/passes: the trace artifact's
    table of where the work went, per query and per (store, entity,
    phase)."""
    out = defaultdict(lambda: defaultdict(float))
    for grp, vals in per_group(rec).items():
        key = phase_key(grp) if grp != "(none)" else "(none)"
        for k, v in vals.items():
            out[key][k] += v
    return {k: dict(sorted(v.items())) for k, v in sorted(out.items())}


def layer_metrics(rec, untraced_wall, cores):
    """Every per-layer metric of LAYER_METRICS for one traced record.
    Layers a workload does not exercise read 0."""
    tr = rec["trace"]
    spans = tr["spans"]
    groups = per_group(rec)

    def span_sum(pred):
        return sum(_dur(s) for s in spans if pred(s["name"]))

    def grp_sum(pred, key):
        return sum(v.get(key, 0.0) for k, v in groups.items() if pred(k))

    def ends(suffix):
        return lambda n: n.endswith(suffix)

    def part(i, value):
        return lambda n: len(n.split("/")) > i and n.split("/")[i] == value

    m = {}
    m["extract.wall_s"] = span_sum(part(1, "extract"))
    m["extract.pages"] = rec.get("pages", 0)
    m["extract.rate_wait_s"] = rec.get("rate_wait_s", 0.0)
    is_state = lambda n: part(1, "state")(n) or n.endswith("/state")
    m["state.wall_s"] = (span_sum(part(1, "state"))
                         + grp_sum(ends("/state"), "action_s"))
    m["state.jobs"] = grp_sum(is_state, "jobs")
    m["state.files"] = rec.get("state_files", 0)
    m["bronze.wall_s"] = grp_sum(ends("/bronze"), "action_s")
    m["bronze.probe_s"] = grp_sum(ends("/bronze"), "job_s")
    units = rec.get("traced_units", [])
    m["bronze.rows"] = sum(u.get("nodes", 0) for u in units)
    m["silver.wall_s"] = grp_sum(ends("/silver"), "action_s")
    m["silver.rows"] = grp_sum(ends("/write"), "records_written")
    writes = rec.get("writes", [])
    m["write.wall_s"] = grp_sum(ends("/write"), "action_s")
    m["write.bytes"] = sum(w["bytes"] for w in writes
                           if w["span"].endswith("/write"))
    m["write.files"] = sum(w["files"] for w in writes
                           if w["span"].endswith("/write"))
    is_stage_phase = lambda n: len(n.split("/")) == 2 and n.endswith("/stage")
    m["stage.wall_s"] = span_sum(is_stage_phase)
    m["stage.rows_per_s"] = (m["silver.rows"] / m["stage.wall_s"]
                             if m["stage.wall_s"] else 0.0)
    for s in STORES:
        for e in ENTITIES:
            m[f"stage.{s}.{e}.wall_s"] = span_sum(
                lambda n, s=s, e=e: re.fullmatch(rf"d\d+/stage/{s}/{e}", n))
    is_merge = part(1, "merge")
    m["merge.wall_s"] = span_sum(is_merge)
    for e in ENTITIES:
        m[f"merge.{e}.wall_s"] = span_sum(
            lambda n, e=e: re.fullmatch(rf"d\d+/merge/{e}", n))
    merged_rows = grp_sum(is_merge, "records_written")
    m["merge.rows_per_s"] = (merged_rows / m["merge.wall_s"]
                             if m["merge.wall_s"] else 0.0)
    m["merge.bytes_rewritten"] = sum(w["bytes"] for w in writes
                                     if "/merge/" in w["span"])
    m["merge.write_amp"] = (m["merge.bytes_rewritten"] / m["write.bytes"]
                            if m["write.bytes"] else 0.0)
    m["merge.attempts"] = sum(w.get("attempts", 0) for w in writes)
    m["archive.wall_s"] = span_sum(part(1, "archive"))
    ops = [o for u in units for o in u["ops"] if "tier" in o]
    for t in TIERS:
        m[f"queries.{t}.wall_s"] = sum(o["wall_s"] for o in ops
                                       if o["tier"] == t)
    m["queries.graph.wall_s"] = sum(o["wall_s"] for o in ops if o["graph"])
    mat = rec.get("materialize", {})
    m["materialize.cold_builds"] = mat.get("cold_builds", 0)
    m["materialize.cold_build_s"] = mat.get("cold_build_s", 0.0)
    m["materialize.cache_bytes"] = rec.get("cache_bytes", 0)
    every = lambda n: True
    m["materialize.jobs"] = grp_sum(every, "materialize_jobs")
    for k in ("analysis_s", "optimization_s", "planning_s"):
        m[f"catalyst.{k}"] = grp_sum(every, k)
    m["catalyst.sql_executions"] = grp_sum(every, "sql_executions")
    for k in ("jobs", "stages", "tasks", "stages_retried", "tasks_failed"):
        m[f"scheduler.{k}"] = grp_sum(every, k)
    window = (min(s["start"] for s in spans), max(s["end"] for s in spans))
    busy, frac, gap = busy_and_gap(
        [(t["start"], t["end"]) for t in tr["tasks"]], window, cores)
    m["executor.busy_s"] = busy
    m["executor.cpu_s"] = grp_sum(every, "cpu_s")
    m["executor.gc_s"] = grp_sum(every, "gc_s")
    m["executor.busy_frac"] = frac
    m["driver.gap_s"] = gap
    m["driver.rdd_jobs"] = grp_sum(every, "rdd_jobs")
    m["shuffle.write_bytes"] = grp_sum(every, "shuffle_write")
    m["shuffle.read_bytes"] = grp_sum(every, "shuffle_read")
    m["shuffle.spill_bytes"] = grp_sum(every, "spill")
    m["io.input_bytes"] = grp_sum(every, "input_bytes")
    m["io.output_bytes"] = grp_sum(every, "output_bytes")
    traced_wall = sum(u["wall_s"] for u in units)
    m["trace.wall_s"] = traced_wall
    m["trace.overhead_s"] = traced_wall - untraced_wall
    return m
