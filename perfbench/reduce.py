"""Reduce the JVM's raw JSON-lines record to the benchmark's metrics.

All of the benchmark's arithmetic lives here: the percentile rule, the
freshness join, the failure count and the per-job bucketing. Tests:
`python3 -m unittest discover -s perfbench -p 'test_*.py'`.
"""
import collections
import math
import re
import statistics

PIPELINE_TABLES = {
    "raw/trips_raw": "trips_raw", "modelled/trips": "trips",
    "modelled/programs": "programs", "modelled/stations": "stations",
    "ops/copy_history": "copy_history", "ops/task_history": "task_history",
}
STREAM_PHASES = ["latestOffset", "getBatch", "queryPlanning", "addBatch",
                 "walCommit", "commitOffsets"]
PACKS = ["RelationalQueries", "VariantQueries", "GovernanceQueries",
         "PipelineQueries", "DedupQueries", "SimilarityQueries", "TextQueries",
         "MultimodalQueries", "EventQueries", "SamplingQueries",
         "RetrievalQueries", "CorpusPipelineQueries"]
ACCOUNTS = ["ACCT_PUB", "ACCT_NYCHA", "ACCT_JCHA"]


# ---- percentiles ---------------------------------------------------------

def supported(n, p):
    """A percentile is reported only with at least ten samples beyond it."""
    return n * (100.0 - p) / 100.0 >= 10.0 - 1e-9


def percentile(values, p):
    """Nearest-rank percentile, or None when the sample cannot support it."""
    xs = sorted(values)
    if not xs or not supported(len(xs), p):
        return None
    return xs[max(0, math.ceil(p / 100.0 * len(xs)) - 1)]


def tail(values, candidates=(99.9, 99, 95, 90, 75, 50)):
    """The highest candidate percentile the sample supports: (p, value)."""
    for p in candidates:
        v = percentile(values, p)
        if v is not None:
            return p, v
    return None, None


def median(values):
    return statistics.median(values) if values else None


# ---- joins and counts ------------------------------------------------------

def freshness(loads, commits):
    """Per-file freshness in ms: the commit time of the micro-batch that
    loaded the file minus the file's scheduled landing time.

    `loads` are {run, file, batch, due_ms}; `commits` are {run, batch, ms},
    where `run` names the pipeline instance (batch ids restart per run). A file
    whose batch has no commit is missing, not fresh: it yields no sample
    and is returned in the second list.
    """
    commit_ms = {(c.get("run"), c["batch"]): c["ms"] for c in commits}
    out, missing = [], []
    for ld in loads:
        if ld.get("due_ms") is None:
            continue
        ms = commit_ms.get((ld.get("run"), int(ld["batch"])))
        if ms is None:
            missing.append(ld["file"])
        else:
            out.append(ms - ld["due_ms"])
    return out, missing


def pending_p90(lands, loads, commits):
    """p90 over landing events of the files landed but not yet committed."""
    commit_ms = {(c.get("run"), c["batch"]): c["ms"] for c in commits}
    done = {ld["file"]: commit_ms.get((ld.get("run"), int(ld["batch"])), math.inf)
            for ld in loads}
    events = sorted(ld["landed_ms"] for ld in lands)
    counts = [sum(1 for ld in lands
                  if ld["landed_ms"] <= t and done.get(ld["file"], math.inf) > t)
              for t in events]
    return percentile(counts, 90) if counts else None


def unloaded(records):
    """The landed files of each phase that did not load exactly once in a
    committed micro-batch: {(phase, file)}."""
    bad = set()
    for phase in {ld.get("phase") for ld in by_kind(records, "land")}:
        loads = by_kind(records, "load", phase)
        _, missing = freshness(loads, by_kind(records, "commit", phase))
        times = collections.Counter(ld["file"] for ld in loads)
        bad |= {(phase, ld["file"]) for ld in by_kind(records, "land", phase)
                if times[ld["file"]] != 1 or ld["file"] in missing}
    return bad


def failures(records, oracle_mismatches=0):
    """(attempted, failed) over every landed file, timed op (reads,
    monitoring, drains), entry and correctness check of the run. A landed
    file fails when it did not load exactly once in a committed batch; an
    oracle row-count mismatch counts as one more failed check."""
    attempted = failed = 0
    bad_lands = unloaded(records)
    for r in records:
        if r["kind"] == "land":
            attempted += 1
            failed += (r.get("phase"), r["file"]) in bad_lands
        elif r["kind"] in ("op", "entry", "check"):
            attempted += 1
            failed += 0 if r.get("ok", True) else 1
    return attempted + oracle_mismatches, failed + oracle_mismatches


def failed_share(attempted, failed):
    return failed / attempted if attempted else 1.0


# ---- per-job bucketing -----------------------------------------------------

# Jobs that write nothing, bucketed by the pipeline table they scan: purge
# joins the stage listing with copy_history, and each dimension merge
# anti-joins the batch's keys with the dimension table.
READ_BUCKETS = [("ops/copy_history", "purge"),
                ("modelled/programs", "write_programs"),
                ("modelled/stations", "write_stations")]
SITE_METHOD = re.compile(r"graft\.[\w.$]*?\.(\w+)\(")


def bucket(job):
    """Name the work a Spark job did inside a micro-batch.

    A job that writes a pipeline table directory is `write_<table>`. A job
    that writes nothing is named by the pipeline table it scans (see
    READ_BUCKETS). Failing both, the innermost `graft.*` method on its call
    site names it, where `applyBatch` means the batch's own `count`.
    Structured Streaming pins the call site of every job of a micro-batch
    to the frame that started the query, so inside a batch the call site
    only separates `Pipeline.start` work from the rest; the table dirs
    carry the detail.
    """
    out = (job.get("out") or "").rstrip("/")
    for suffix, table in PIPELINE_TABLES.items():
        if out.endswith(suffix):
            return "write_" + table
    reads = " ".join(job.get("reads") or [])
    for suffix, name in READ_BUCKETS:
        if suffix in reads:
            return name
    m = SITE_METHOD.search(job.get("site") or "")
    if m and m.group(1) not in ("applyBatch", "start", "runAvailableNow"):
        return m.group(1)
    return "count"


def job_ms(job):
    return job["end_ms"] - job["start_ms"]


# ---- reduction -------------------------------------------------------------

def by_kind(records, kind, phase=None):
    return [r for r in records if r["kind"] == kind
            and (phase is None or r.get("phase") == phase)]


def durations(progress):
    return dict(kv.split("=") for kv in progress["durations"])


def ops(records, op, phase):
    return [r for r in by_kind(records, "op", phase) if r["op"] == op]


def measured_batches(records, phase):
    """Progress of the micro-batches that loaded a file landed on the
    clock, which leaves out the batch of `trickle`'s primer file."""
    landed = {ld["batch"] for ld in by_kind(records, "load", phase)
              if ld.get("due_ms") is not None}
    return [p for p in by_kind(records, "progress", phase) if p["batch"] in landed]


def work_s(workload, records, phase):
    """The unit of work a user waits on: one backlog drain, one consumer
    read cycle (three reports, then one monitoring op), or one pass over
    the entries."""
    if workload == "backfill":
        return median([r["ms"] / 1000 for r in ops(records, "drain", phase)])
    if workload == "trickle":
        return median([r["ms"] / 1000 for r in by_kind(records, "cycle", phase)])
    return median([r["s"] for r in by_kind(records, "pass", phase)])


def latency_ms(workload, records, phase):
    """The typical latency: the median file freshness, or the geometric
    mean over the entries. The entries take from 0.1 s to 2 s, so their
    median jumps with the gaps between them; the geometric mean moves only
    when the entries do."""
    if workload == "entries":
        xs = [r["ms"] for r in by_kind(records, "entry", phase)]
        return statistics.geometric_mean(xs) if xs else None
    return median(file_freshness(records, phase))


def file_freshness(records, phase):
    return freshness(by_kind(records, "load", phase),
                     by_kind(records, "commit", phase))[0]


def end_to_end(workload, records):
    setups = [r["s"] for r in by_kind(records, "setup")]
    return {
        "setup_s": median(setups),
        "work_s": work_s(workload, records, "main"),
        "latency_ms": latency_ms(workload, records, "main"),
    }


def batch_jobs(records, progress):
    """The jobs a micro-batch ran: same batch id, started inside the
    batch's trigger window (batch ids restart with every pipeline)."""
    end = progress["end_ms"]
    start = end - int(durations(progress)["triggerExecution"])
    return [j for j in by_kind(records, "job")
            if j.get("batch") == progress["batch"] and start <= j["start_ms"] <= end]


def per_batch(records, phase):
    """Pipeline.stream.* and Pipeline.apply.*: per micro-batch, medians."""
    progress = measured_batches(records, phase)
    m = {"Pipeline.stream.batches": len(progress),
         "Pipeline.stream.rows_per_batch_p50":
             median([p["rows"] for p in progress]) or 0}
    for k in STREAM_PHASES:
        m[f"Pipeline.stream.{k}_ms"] = median(
            [int(durations(p).get(k, 0)) for p in progress]) or 0
    rows = []
    for p in progress:
        js = batch_jobs(records, p)
        r = collections.Counter()
        for j in js:
            r[bucket(j) + "_ms"] += job_ms(j)
            for k in ("stages", "tasks", "gc_ms", "spill", "output_bytes"):
                r[k] += j[k]
            r["shuffle_write_bytes"] += j["shuffle_write"]
        r["jobs"] = len(js)
        r["driver_ms"] = int(durations(p).get("addBatch", 0)) - sum(map(job_ms, js))
        rows.append(r)
    for k in ["write_trips_raw_ms", "write_trips_ms", "count_ms", "jobs", "stages",
              "tasks", "driver_ms", "write_copy_history_ms",
              "write_task_history_ms", "purge_ms", "write_programs_ms",
              "write_stations_ms", "gc_ms", "shuffle_write_bytes", "spill_bytes",
              "output_bytes"]:
        src = "spill" if k == "spill_bytes" else k
        m["Pipeline.apply." + k] = median([r[src] for r in rows]) or 0
    return m


def op_jobs(records, prefix):
    """Jobs grouped per op instance whose op id starts with `prefix`."""
    groups = collections.defaultdict(list)
    for j in by_kind(records, "job"):
        if (j.get("op") or "").startswith(prefix):
            groups[j["op"]].append(j)
    return groups


def per_layer(workload, records, attempted, failed):
    """Every per-layer metric, from the traced phase, plus the user-facing
    figures of the untraced phase (`user_metrics`)."""
    t = "traced"
    m = {}
    unload = ops(records, "Producer.unload", "setup")
    setup = by_kind(records, "setup")
    m["Producer.unload_ms"] = median([r["ms"] for r in unload]) or 0
    m["Producer.files"] = median([r.get("files", 0) for r in setup]) or 0
    m["Producer.bytes"] = median([r.get("bytes", 0) for r in setup]) or 0
    m.update(per_batch(records, t))
    for store in ["trips_raw", "trips", "dims", "ops", "checkpoint"]:
        rs = [r for r in by_kind(records, "store", "main") if r["store"] == store]
        m[f"store.{store}.files"] = rs[-1]["files"] if rs else 0
        m[f"store.{store}.bytes"] = rs[-1]["bytes"] if rs else 0

    reports = ops(records, "report", t)
    m["SecureShare.register_ms"] = median(
        [r["ms"] for r in by_kind(records, "register", t)]) or 0
    for acct in ACCOUNTS:
        m[f"SecureShare.report_ms.{acct}"] = median(
            [r["ms"] for r in reports if r["acct"] == acct]) or 0
    groups = op_jobs(records, "report:").values()
    plans = [r["plan_ms"] for r in by_kind(records, "report_plan", t)]
    m["SecureShare.report.jobs"] = median([len(g) for g in groups]) or 0
    m["SecureShare.report.plan_ms"] = median(plans) or 0
    m["SecureShare.report.exec_ms"] = median([sum(map(job_ms, g)) for g in groups]) or 0
    m["SecureShare.report.records_read"] = median(
        [sum(j["records_read"] for j in g) for g in groups]) or 0
    m["Pipeline.dashboard_ms"] = median([r["ms"] for r in ops(records, "dashboard", t)]) or 0
    m["Pipeline.pipeStatus_ms"] = median([r["ms"] for r in ops(records, "pipeStatus", t)]) or 0

    lands = by_kind(records, "land", "main")
    m["gen.late_ms_max"] = max([r["landed_ms"] - r["due_ms"] for r in lands], default=0)
    m["Stage.pending_files_p90"] = pending_p90(
        lands, by_kind(records, "load", "main"), by_kind(records, "commit", "main")) or 0

    entries = by_kind(records, "entry", t)
    for pack in PACKS:
        m[f"entries.{pack}_s"] = sum(r["ms"] for r in entries if r["pack"] == pack) / 1000
    windows = [(r["start_ms"], r["start_ms"] + r["ms"]) for r in entries]
    ejobs = [j for g in op_jobs(records, "entry:").values() for j in g]
    m["entries.build_ms"] = sum(r["build_ms"] for r in entries)
    m["entries.plan_ms"] = sum(q["plan_ms"] for q in by_kind(records, "qe")
                               if any(a <= q["start_ms"] <= b for a, b in windows))
    m["entries.exec_ms"] = sum(map(job_ms, ejobs))
    m["entries.jobs"] = len(ejobs)
    m["entries.shuffle_bytes"] = sum(j["shuffle_write"] for j in ejobs)
    m["entries.spill_bytes"] = sum(j["spill"] for j in ejobs)
    m["entries.gc_ms"] = sum(j["gc_ms"] for j in ejobs)
    fills = by_kind(records, "fills", t)
    m["CacheFills.fill_s"] = fills[-1]["s"] if fills else 0
    m["CacheFills.fills"] = fills[-1]["n"] if fills else 0

    traced, untraced = work_s(workload, records, t), work_s(workload, records, "main")
    m["trace.overhead_ratio"] = traced / untraced if traced and untraced else 0
    m.update(user_metrics(workload, records, attempted, failed))
    return m


def user_metrics(workload, records, attempted, failed):
    """The user-facing figures the generic end-to-end metrics stand for on
    each workload, from the untraced phase; reported by the traced run."""
    fresh = file_freshness(records, "main")
    reads = [r["ms"] for r in ops(records, "report", "main")]
    p, v = tail(reads)
    landed = sum(r["bytes"] for r in by_kind(records, "land", "main"))
    stored = sum(r["bytes"] for r in by_kind(records, "store", "main")[-5:])
    drains = ops(records, "drain", "main")
    rows = sum(r["rows"] for r in by_kind(records, "load", "main"))
    return {
        "backfill_rows_per_s": rows / sum(r["ms"] / 1000 for r in drains) if drains else 0,
        "freshness_p50_ms": median(fresh) or 0,
        "freshness_p90_ms": percentile(fresh, 90) or 0,
        "freshness_samples": len(fresh),
        "report_p50_ms": median(reads) or 0,
        "report_tail_ms": v or 0,
        "report_tail_pct": p or 0,
        "report_samples": len(reads),
        "monitor_p50_ms": median([r["ms"] for r in by_kind(records, "monitor", "main")]) or 0,
        "stored_bytes_per_input_byte": stored / landed if landed and stored else 0,
        "entries_s": work_s(workload, records, "main") if workload == "entries" else 0,
        "failed_share": failed_share(attempted, failed),
    }
