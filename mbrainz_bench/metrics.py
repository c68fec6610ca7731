"""End-to-end and per-layer metrics from a workload's samples and spans.

End-to-end metrics are the same five on both workloads, all in CPU
seconds of the benchmark's process tree (see `clock.py`); what each one
measures on each workload:

  metric                 import                       serve
  setup_s                session + corpus + dims      session + store + warm-up
  read_p50_cpu_s         no-op re-run of run_import   query or pull_many
  write_p50_cpu_s        run_import pass              transact
  index_p50_cpu_s        build_entity_tables          request_index
  throughput_per_cpu_s   raw entity rows imported     operations completed

The per-run record carries every number under its use-specific name, in
wall seconds and (suffix `_cpu`) CPU seconds, with units, sample counts
and tails, plus the peak RSS of the driver and the JVM (`peak_rss_mb`),
which moves with the JVM's garbage-collection timing by up to a third
between identical runs.
"""

from __future__ import annotations

import statistics

from .corpus import ENTITY_TYPES
from .trace import SPARK_FIELDS

# gated metric -> (unit, key of the CPU-second value computed below)
END_TO_END = {
    "setup_s": ("s", "setup_s"),
    "read_p50_cpu_s": ("s", "read_p50_s"),
    "write_p50_cpu_s": ("s", "write_p50_s"),
    "index_p50_cpu_s": ("s", "index_p50_s"),
    "throughput_per_cpu_s": ("1/s", "throughput_per_s"),
}

TEMPLATES = ("point_lookup", "ref_join", "filtered_aggregate", "unbound_attribute")

PER_LAYER = {
    "sources.edn_source.parse_s": "s",
    "sources.edn_source.rows_per_s": "1/s",
    **{f"pipeline.load_type.{t}.{k}": u for t in ENTITY_TYPES
       for k, u in (("s", "s"), ("jobs", "count"))},
    "operators.transform.build_s": "s",
    "operators.transform.eager_jobs": "count",
    "operators.batching.build_s": "s",
    "operators.batching.eager_jobs": "count",
    "operators.idempotency.write_s": "s",
    "operators.idempotency.batches_written": "count",
    "operators.idempotency.batches_attempted": "count",
    "operators.idempotency.new_batch_ratio": "ratio",
    "plans.metaschema.build_s": "s",
    "plans.metaschema.jobs": "count",
    "plans.eav.materialize_s": "s",
    "plans.eav.datoms": "count",
    "plans.eav.files": "count",
    "plans.eav.read_datoms_s": "s",
    "plans.datalog.build_s": "s",
    "plans.datalog.action_s": "s",
    "plans.datalog.jobs_per_query": "count",
    "plans.datalog.shuffle_bytes_per_query": "B",
    **{f"plans.datalog.{t}.p50_s": "s" for t in TEMPLATES},
    "plans.pull.build_s": "s",
    "plans.pull.action_s": "s",
    "plans.client.transact.expand_s": "s",
    "plans.client.transact.append_s": "s",
    "plans.client.transact.jobs": "count",
    "plans.client.db.unindexed_ops": "count",
    "plans.client.db.read_action_s": "s",
    "plans.eav.merge_s": "s",
    "plans.eav.touched_partitions": "count",
    "plans.eav.bytes_rewritten": "B",
    "plans.eav.bytes_rewritten_per_op": "B",
    "plans.eav.files_after": "count",
    **{f"spark.{f}": ("s" if f.endswith("_s") else "B" if f.endswith("_bytes")
                      else "count") for f in SPARK_FIELDS},
    "trace.self_s": "s",
    "trace.spans": "count",
    "trace.read_p50_cpu_s": "s",
    "trace.write_p50_cpu_s": "s",
    "trace.read_overhead_cpu_s": "s",
    "trace.write_overhead_cpu_s": "s",
}

# op kinds behind read_p50_cpu_s and write_p50_cpu_s; the traced run times
# every second repetition of them untraced, to give the tracing overhead
READ_KINDS = {"import": ("reimport",), "serve": ("query", "pull")}
WRITE_KINDS = {"import": (), "serve": ("transact",)}


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile that still has at
    least ten samples above it; with ten samples or fewer, the maximum
    (percentile 100), which the record then flags by its n."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 10:
        return s[-1], 100.0, n
    i = n - 11
    return s[i], round(100.0 * (i + 1) / n, 1), n


def _pool(res, kinds, cpu: bool) -> list[float]:
    src = res.cpu if cpu else res.samples
    return [x for k in kinds for x in src.get(k, [])]


def end_to_end(workload: str, res, session: tuple, rss_mb: float) -> tuple[dict, dict]:
    """(metrics for the result line, the per-use record). Every timing is
    recorded twice: as wall seconds and, with a `_cpu` suffix, as the
    process tree's CPU seconds."""
    record: dict = {}
    values: dict = {}
    for cpu in (False, True):
        sfx = "_cpu" if cpu else ""
        i = 1 if cpu else 0
        setup = session[i] + sum(p[i] for p in res.setup_parts.values())
        measured = res.measured_cpu_s if cpu else res.measured_s

        def p50(*kinds):
            xs = _pool(res, kinds, cpu)
            return median(xs), len(xs)

        if workload == "import":
            (imp, n_imp), (tab, n_tab) = p50("import"), p50("entity_tables")
            rows_per_s = res.facts["entity_rows"] / (imp + tab) if imp + tab else 0.0
            v = {"read_p50_s": p50("reimport"), "write_p50_s": (imp, n_imp),
                 "index_p50_s": (tab, n_tab), "throughput_per_s": (rows_per_s, n_imp)}
            rec = {"import_rows_per_s": v["throughput_per_s"], "import_pass_s": v["write_p50_s"],
                   "entity_tables_s": v["index_p50_s"], "reimport_s": v["read_p50_s"]}
            units = {"import_rows_per_s": "1/s"}
        else:
            reads = _pool(res, ("query", "pull"), cpu)
            n_ops = sum(len(res.samples.get(k + sfx, [])) for k in
                        ("query", "pull", "transact", "read_after_write", "index")
                        for sfx in ("", ".untraced"))
            v = {"read_p50_s": p50("query", "pull"), "write_p50_s": p50("transact"),
                 "index_p50_s": p50("index"),
                 "throughput_per_s": (n_ops / measured if measured else 0.0, n_ops)}
            q_tail, q_pct, q_n = tail(reads)
            t_tail, t_pct, t_n = tail(_pool(res, ("transact",), cpu))
            rec = {"query_p50_s": v["read_p50_s"], "query_tail_s": (q_tail, q_n),
                   "pull_p50_s": p50("pull"), "transact_p50_s": v["write_p50_s"],
                   "transact_tail_s": (t_tail, t_n),
                   "read_after_write_p50_s": p50("read_after_write"),
                   "index_p50_s": v["index_p50_s"], "ops_per_s": v["throughput_per_s"]}
            if not cpu:
                rec["queries_per_s"] = (len(reads) / res.facts["query_phase_s"], len(reads))
            units = {"query_tail_s": f"s@p{q_pct}", "transact_tail_s": f"s@p{t_pct}",
                     "ops_per_s": "1/s", "queries_per_s": "1/s"}
        v["setup_s"] = (setup, 1)
        rec["setup_s"] = v["setup_s"]
        for k, (val, n) in rec.items():
            record[k + sfx] = {"value": val, "unit": units.get(k, "s"), "n": n}
        values[sfx] = {k: val for k, (val, _) in v.items()}
    record["peak_rss_mb"] = {"value": rss_mb, "unit": "MB", "n": 1}
    record["error_rate"] = {"value": res.failed / res.attempted if res.attempted else 1.0,
                            "unit": "ratio", "n": res.attempted}
    metrics = {k: {"value": values["_cpu"][src], "unit": u}
               for k, (u, src) in END_TO_END.items()}
    return metrics, record


def _within(tracer, root: str):
    """Spans that started inside the first span named `root`."""
    roots = tracer.named(root)
    if not roots:
        return []
    r = roots[0]
    return [s for s in tracer.spans if r.start <= s.start and s.end <= r.end]


def per_layer(workload: str, tracer, res) -> dict:
    out = dict.fromkeys(PER_LAYER, 0.0)
    measured = _within(tracer, f"workload.{workload}")

    def spans(name, pool=measured):
        return [s for s in pool if s.name == name]

    def secs(name, pool=measured):
        return [s.seconds for s in spans(name, pool)]

    def jobs(name, pool=measured):
        return [s.spark["jobs"] for s in spans(name, pool)]

    roots = tracer.named(f"workload.{workload}")
    if roots:
        for f in SPARK_FIELDS:
            out[f"spark.{f}"] = roots[0].spark[f]
    if workload == "import":
        parse = tracer.named("sources.edn_source.parse")
        out["sources.edn_source.parse_s"] = sum(s.seconds for s in parse)
        if out["sources.edn_source.parse_s"]:
            out["sources.edn_source.rows_per_s"] = (
                sum(res.facts["rows"].values()) / out["sources.edn_source.parse_s"])
        first_pass = _within(tracer, "pipeline.run_import")
        for t in ENTITY_TYPES:
            out[f"pipeline.load_type.{t}.s"] = sum(secs(f"pipeline.load_type.{t}", first_pass))
            out[f"pipeline.load_type.{t}.jobs"] = sum(jobs(f"pipeline.load_type.{t}", first_pass))
        for layer in ("transform", "batching"):
            out[f"operators.{layer}.build_s"] = sum(secs(f"operators.{layer}", first_pass))
            out[f"operators.{layer}.eager_jobs"] = sum(jobs(f"operators.{layer}", first_pass))
        # every traced load: the pass, and the re-runs' marker fast path
        writes = spans("operators.idempotency.write")
        written = sum(s.attrs["batches_written"] for s in writes)
        attempted = sum(s.attrs["batches_attempted"] for s in writes) + sum(
            s.attrs.get("fast_path_batches", 0) for t in ENTITY_TYPES
            for s in spans(f"pipeline.load_type.{t}"))
        out["operators.idempotency.write_s"] = sum(s.seconds for s in writes)
        out["operators.idempotency.batches_written"] = written
        out["operators.idempotency.batches_attempted"] = attempted
        out["operators.idempotency.new_batch_ratio"] = written / attempted if attempted else 0.0
        out["plans.metaschema.build_s"] = sum(secs("plans.metaschema.build"))
        out["plans.metaschema.jobs"] = sum(jobs("plans.metaschema.build"))
    else:
        out["plans.eav.materialize_s"] = median(secs("plans.eav.materialize", tracer.spans))
        out["plans.eav.datoms"] = res.facts["datoms"]
        out["plans.eav.files"] = res.facts["store_files"]
        out["plans.eav.read_datoms_s"] = median(secs("plans.eav.read_datoms"))
        builds, actions = spans("plans.datalog.build"), spans("plans.datalog.action")
        out["plans.datalog.build_s"] = median([s.seconds for s in builds])
        out["plans.datalog.action_s"] = median([s.seconds for s in actions])
        if actions:
            both = builds + actions
            out["plans.datalog.jobs_per_query"] = sum(s.spark["jobs"] for s in both) / len(actions)
            out["plans.datalog.shuffle_bytes_per_query"] = sum(
                s.spark["shuffle_write_bytes"] for s in both) / len(actions)
        for t in TEMPLATES:
            out[f"plans.datalog.{t}.p50_s"] = median(res.samples.get(f"template.{t}", []))
        out["plans.pull.build_s"] = median(secs("plans.pull.build"))
        out["plans.pull.action_s"] = median(secs("plans.pull.action"))
        tx = spans("plans.client.transact")
        expand = spans("plans.client.transact.expand")
        out["plans.client.transact.expand_s"] = median([s.seconds for s in expand])
        out["plans.client.transact.append_s"] = median(
            [t.seconds - sum(e.seconds for e in expand if t.start <= e.start <= t.end)
             for t in tx])
        out["plans.client.transact.jobs"] = median([s.spark["jobs"] for s in tx])
        reads = spans("plans.client.db.read_action")
        out["plans.client.db.unindexed_ops"] = median([s.attrs["unindexed_ops"] for s in reads])
        out["plans.client.db.read_action_s"] = median([s.seconds for s in reads])
        out["plans.eav.merge_s"] = median(secs("plans.eav.merge"))
        idx = spans("plans.client.request_index")
        out["plans.eav.touched_partitions"] = median([s.attrs["touched_partitions"] for s in idx])
        out["plans.eav.bytes_rewritten"] = median([s.attrs["bytes_rewritten"] for s in idx])
        out["plans.eav.bytes_rewritten_per_op"] = median(
            [s.attrs["bytes_rewritten"] / s.attrs["ops"] for s in idx if s.attrs["ops"]])
        out["plans.eav.files_after"] = idx[-1].attrs["files_after"] if idx else 0
    for name, kinds in (("read", READ_KINDS[workload]), ("write", WRITE_KINDS[workload])):
        traced = _pool(res, kinds, cpu=True)
        untraced = _pool(res, [k + ".untraced" for k in kinds], cpu=True)
        if traced and untraced:
            out[f"trace.{name}_overhead_cpu_s"] = median(traced) - median(untraced)
    out["trace.self_s"] = tracer.self_s
    out["trace.spans"] = len(tracer.spans)
    return out
