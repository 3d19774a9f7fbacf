"""Per-layer metrics of a traced run, from the spans the benchmark recorded
around its own calls and the jobs and stages its listener attributed to
them. Span names carry the layer: `delta.log.*`, `delta.read.*`,
`delta.write.*`, `delta.dml.*`, `delta.maint.*`, `ops.*`; `spark.exec` is
a DataFrame action, `bench.inspect` the benchmark's own counting, and
`op.<kind>` the root of each timed op."""

import statistics

READ_OPS = {"op.read", "op.travel", "op.part_read", "op.range_read", "op.scan", "op.readback"}
DML_OPS = {"op.dv_delete", "op.dv_update", "op.merge"}
SPARK_SUMS = ("run_ms", "cpu_ms", "sched_delay_ms", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes", "gc_ms")


def union_ms(intervals, lo=float("-inf"), hi=float("inf")):
    """Length of the union of [a, b) intervals, clipped to [lo, hi)."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(rec):
    """(metrics, worst self-time residual in ms). The residual is, over
    every traced op, |op wall time − sum of self times in its tree|, where
    the wall time comes from the op's own clock reads around its root span
    (infinite when an op has no root span or a root span no op)."""
    spans = {s[0]: {"id": s[0], "parent": s[1], "name": s[2], "start": s[3], "end": s[4],
                    "attrs": s[5], "kids": []} for s in rec["spans"]}
    for s in spans.values():
        if s["parent"] in spans:
            spans[s["parent"]]["kids"].append(s)
    cols = rec["stage_cols"]
    jobs_of, stages_of = {}, {}
    for _id, span, a, b in rec["jobs"]:
        jobs_of.setdefault(span, []).append((a, b if b is not None else a))
    for row in rec["stages"]:
        st = dict(zip(cols, row[1:]))
        stages_of.setdefault(int(st["span"]), []).append(st)

    def tree(s):
        yield s
        for k in s["kids"]:
            yield from tree(k)

    def dur(s):
        return s["end"] - s["start"]

    def job_ms(s):
        ivs = [iv for x in tree(s) for iv in jobs_of.get(x["id"], [])]
        return union_ms(ivs, s["start"], s["end"])

    def njobs(s):
        return sum(len(jobs_of.get(x["id"], [])) for x in tree(s))

    def stage_sum(s, key):
        return sum(st[key] for x in tree(s) for st in stages_of.get(x["id"], []))

    def self_ms(s):
        return dur(s) - union_ms([(k["start"], k["end"]) for k in s["kids"]], s["start"], s["end"])

    def named(name):
        return [s for s in spans.values() if s["name"] == name]

    roots = [s for s in spans.values() if s["parent"] < 0]
    walls = {s[5]: s[2] for s in rec["samples"] if s[5] >= 0}
    if sorted(walls) != sorted(r["id"] for r in roots):
        residual = float("inf")
    else:
        residual = max((abs(walls[r["id"]] - sum(self_ms(x) for x in tree(r))) for r in roots),
                       default=0.0)

    def child(s, name):
        return [x for x in tree(s) if x["name"] == name]

    m = {}
    # delta.log
    for kind in ("latest", "travel"):
        ss = named(f"delta.log.snapshot_{kind}")
        m[f"delta.log.snapshot_{kind}_ms"] = _med([dur(s) for s in ss])
        m[f"delta.log.snapshot_{kind}_calls"] = float(len(ss))
    for k in ("log_files", "commits", "checkpoints"):
        m[f"delta.log.{k}"] = rec["end"][k]
    # delta.read
    plans = named("delta.read.plan")
    m["delta.read.plan_ms"] = _med([dur(s) for s in plans])
    m["delta.read.plan_jobs"] = _mean([njobs(s) for s in plans])
    # a mean: a listing job that only some reads start must not vanish
    m["delta.read.plan_job_ms"] = _mean([job_ms(s) for s in plans])
    inspects = [s["attrs"] for s in named("bench.inspect") if "files_active" in s["attrs"]]
    active = [a["files_active"] for a in inspects]
    scanned = [a["files_scanned"] for a in inspects]
    m["delta.read.files_active"] = _mean(active)
    m["delta.read.files_scanned"] = _mean(scanned)
    m["delta.read.scan_fraction"] = sum(scanned) / sum(active) if sum(active) else 0.0
    reads = [r for r in roots if r["name"] in READ_OPS]
    returned = sum(r["attrs"].get("rows_returned", 0.0) for r in reads)
    read_rows = sum(stage_sum(r, "input_records") for r in reads)
    m["delta.read.rows_returned_per_row_read"] = returned / read_rows if read_rows else 0.0
    # delta.write
    writes = named("delta.write.append")
    m["delta.write.append_ms"] = _med([dur(s) for s in writes])
    m["delta.write.job_ms"] = _med([job_ms(s) for s in writes])
    m["delta.write.driver_ms"] = _med([dur(s) - job_ms(s) for s in writes])
    plain, cp, added = [], [], []
    for r in roots:
        if r["name"] != "op.append":
            continue
        flags = [x["attrs"] for x in child(r, "bench.inspect") if "checkpoint" in x["attrs"]]
        ws = child(r, "delta.write.append")
        if flags and ws:
            (cp if flags[0]["checkpoint"] else plain).append(dur(ws[0]))
            added.append(flags[0]["files_added"])
    m["delta.write.plain_append_ms"] = _med(plain)
    m["delta.write.checkpoint_append_ms"] = _med(cp)
    m["delta.write.files_added"] = _mean(added)
    # delta.dml
    for kind in ("dv_delete", "dv_update", "merge"):
        ss = named(f"delta.dml.{kind}")
        m[f"delta.dml.{kind}_ms"] = _med([dur(s) for s in ss])
        m[f"delta.dml.{kind}_job_ms"] = _med([job_ms(s) for s in ss])
        m[f"delta.dml.{kind}_driver_ms"] = _med([dur(s) - job_ms(s) for s in ss])
    dmls = [r for r in roots if r["name"] in DML_OPS]
    m["delta.dml.files_rewritten"] = _mean([r["attrs"].get("files_rewritten", 0.0) for r in dmls])
    affected = sum(r["attrs"].get("rows_affected", 0.0) for r in dmls)
    dml_rows = sum(stage_sum(r, "input_records") for r in dmls)
    m["delta.dml.rows_affected_per_row_read"] = affected / dml_rows if dml_rows else 0.0
    # delta.maint
    compacts = [r for r in roots if r["name"] == "op.compact"]
    m["delta.maint.compact_ms"] = _med([dur(s) for s in named("delta.maint.compact")])
    for k in ("files_before_compact", "files_after_compact"):
        m[f"delta.maint.{k}"] = _mean([r["attrs"].get(k, 0.0) for r in compacts])
    for k in ("history", "cdf_plan", "cdf_exec"):
        m[f"delta.maint.{k}_ms"] = _med([dur(s) for s in named(f"delta.maint.{k}")])
    # ops
    for k in ("exact", "minhash", "clusters", "quality", "semantic"):
        m[f"ops.{k}_ms"] = _med([dur(s) for s in named(f"ops.{k}")])
    for k in ("near_dup_recall", "semantic_recall", "pairs_per_planted_pair"):
        m[f"ops.{k}"] = rec["counters"].get(k, 0.0)
    # op time no layer span covers: the roots' own self time plus the
    # benchmark's counting, as a share of the ops' wall time
    loose = sum(self_ms(x) for r in roots for x in tree(r)
                if x is r or x["name"] == "bench.inspect")
    m["bench.unattributed_share"] = loose / sum(walls.values()) if walls else 0.0
    # spark, per op of the loop
    ops = max(1, len(roots))
    all_jobs = [iv for ivs in jobs_of.values() for iv in ivs]
    all_stages = [st for sts in stages_of.values() for st in sts]
    union = union_ms(all_jobs)
    m["spark.jobs"] = len(all_jobs) / ops
    m["spark.stages"] = len(all_stages) / ops
    m["spark.tasks"] = sum(st["tasks"] for st in all_stages) / ops
    m["spark.job_ms"] = union / ops
    m["spark.driver_ms"] = (rec["loop_s"] * 1000.0 - union) / ops
    for k in SPARK_SUMS:
        name = {"run_ms": "executor_run_ms", "cpu_ms": "executor_cpu_ms"}.get(k, k)
        m[f"spark.{name}"] = sum(st[k] for st in all_stages) / ops
    return m, residual
