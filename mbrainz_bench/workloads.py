"""The two workloads: `import` and `serve`.

Each one runs as a closed loop with one client (one Spark driver runs one
action at a time), checks every answer against the generator's ground
truth, and returns a `Result` with raw samples. A failed check or an
exception inside an operation counts as a failed operation; the run goes
on.

import  EDN corpus -> `Importer.run_import` into a fresh warehouse ->
        `build_entity_tables`, then the exactly-once re-run (REIMPORTS times).
serve   a datom store materialised from the corpus's entity tables; a
        write phase through `connect(...)`: `transact` (add / retract /
        cas), a read-back of each write, and `request_index` after every
        `INDEX_EVERY` writes; then a read-only phase of verbatim Datomic
        queries and `pull_many` calls on a second copy of the store.

Both run a fixed number of operations, the same on every run and
machine, so every median is taken over the same mix; `seconds` is
accepted for the common interface.

In a traced run, spans wrap the calls into each module; see `trace.py`.
Half of the repeated operations run with tracing off and are sampled
apart (kind + `.untraced`), so the tracing overhead is traced minus
untraced on the same operations in the same run.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

from . import corpus

IMPORT_SCALE = 0.02   # ~3.4k raw entity rows: one import pass is job-bound
SERVE_SCALE = 0.05    # ~1.4k entities, ~7.9k datoms
QUERY_ROUNDS = 3      # measured rounds of the five read templates
# Datomic indexes when the memory index passes `memory-index-threshold`
# (32 MB by default), not after every transaction, so reads between index
# jobs see a growing unindexed log suffix. One-op transactions would take
# tens of thousands of writes to reach that threshold; the benchmark keeps
# the shape at a size a run can hold: the suffix grows from 1 to
# INDEX_EVERY transactions, then one `request_index` folds it in.
INDEX_EVERY = 2
WRITE_GROUPS = 5      # measured groups of INDEX_EVERY writes + one index
# query rounds and write groups before the window: the first index jobs
# and query rounds after start-up still cost a third more than later ones
WARMUP_ROUNDS = 2
REIMPORTS = 2
SETUP_ROUNDS = 3


@dataclass
class Result:
    setup_parts: dict = field(default_factory=dict)
    samples: dict = field(default_factory=dict)   # op kind -> [wall seconds]
    cpu: dict = field(default_factory=dict)       # op kind -> [CPU seconds]
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    facts: dict = field(default_factory=dict)     # sizes, counts, checks
    measured_s: float = 0.0
    measured_cpu_s: float = 0.0
    untraced: bool = False                        # inside `_untraced`

    def sample(self, kind: str, took: tuple[float, float]) -> None:
        if self.untraced:
            kind += ".untraced"
        self.samples.setdefault(kind, []).append(took[0])
        self.cpu.setdefault(kind, []).append(took[1])

    def check(self, ok: bool, what: str) -> bool:
        """One attempted operation; a wrong answer counts as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok

    def error(self, what: str, exc: BaseException) -> None:
        self.attempted += 1
        self.failed += 1
        self.failures.append(f"{what}: {type(exc).__name__}: {exc}"[:500])


def _median_pair(pairs: list[tuple[float, float]]) -> tuple[float, float]:
    """Median (wall, CPU) of repeated set-up rounds, each taken separately."""
    return (statistics.median(p[0] for p in pairs),
            statistics.median(p[1] for p in pairs))


@contextmanager
def _untraced(res: Result, tracer):
    """A block run with spans off and its samples kept apart, in a traced
    run; in an untraced run, just the block."""
    if not tracer.enabled:
        yield
        return
    res.untraced = True
    try:
        with tracer.off():
            yield
    finally:
        res.untraced = False


def _alternate(res: Result, tracer, i: int):
    """Every second repetition of an operation runs untraced."""
    return _untraced(res, tracer) if i % 2 else nullcontext()


def _timed(clock, fn):
    """fn's result and its (wall, CPU) seconds."""
    w0, c0 = clock.now()
    out = fn()
    w1, c1 = clock.now()
    return out, (w1 - w0, c1 - c0)


# -- import -----------------------------------------------------------------

def run_import(spark, tracer, clock, work: str, seed: int, seconds: float) -> Result:
    """One import pass is far longer than any measuring window, so the
    workload always runs exactly one pass, plus the re-runs. `seconds`
    is accepted for the common interface."""
    from mbrainz_importer_spark.pipeline import Importer
    from mbrainz_importer_spark.plans.metaschema import build_entity_tables

    res = Result()
    basedir = os.path.join(work, "corpus")
    gen = []
    for _ in range(SETUP_ROUNDS):
        (_, truth), s = _timed(clock, lambda: corpus.write_corpus(basedir, seed, IMPORT_SCALE))
        gen.append(s)
    res.setup_parts["corpus"] = _median_pair(gen)
    importer, res.setup_parts["importer"] = _timed(clock, lambda: Importer(spark, basedir))
    expected = truth["import"]
    res.facts["rows"] = expected["rows"]
    res.facts["entity_rows"] = expected["entity_rows"]
    if tracer.enabled:
        _wrap_import_layers(tracer)

    warehouse = os.path.join(work, "warehouse")
    t0, c0 = clock.now()
    with tracer.span("workload.import"):
        try:
            with tracer.span("pipeline.run_import"):
                first, s = _timed(clock, lambda: importer.run_import(warehouse))
            res.sample("import", s)
            res.check(
                all(first[t].get("txes") == n for t, n in expected["batches"].items()),
                f"first run_import txes {first} != batches {expected['batches']}",
            )
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, the run goes on
            res.error("run_import", exc)
        try:
            with tracer.span("plans.metaschema.build"):
                tables, s = _timed(clock, lambda: build_entity_tables(
                    spark, warehouse, importer, os.path.join(warehouse, "tables")))
            res.sample("entity_tables", s)
        except Exception as exc:  # noqa: BLE001
            tables = None
            res.error("build_entity_tables", exc)
        for i in range(REIMPORTS):
            try:
                with _alternate(res, tracer, i), tracer.span("pipeline.reimport"):
                    again, s = _timed(clock, lambda: importer.run_import(warehouse))
                    res.sample("reimport", s)
                res.check(
                    all(again[t].get("txes") == 0 for t in corpus.ENTITY_TYPES),
                    f"re-run was not a no-op: {again}",
                )
            except Exception as exc:  # noqa: BLE001
                res.error("reimport", exc)
    res.measured_s = time.perf_counter() - t0
    res.measured_cpu_s = clock.cpu() - c0
    _check_import(spark, res, warehouse, tables, expected)
    if tracer.enabled:
        tracer.unwrap_all()
        _count_attempted(tracer, warehouse)
        _parse_probe(tracer, importer, res, expected)
    return res


def _check_import(spark, res: Result, warehouse: str, tables, expected: dict) -> None:
    """Batch ids are `{type}-1 .. {type}-ceil(rows/100)` for every type, and
    every entity table holds one row per unique gid (or distinct pair).
    One Spark job per check family, so checking stays cheap."""
    from functools import reduce

    from pyspark.sql import functions as F

    try:
        loaded = [f"{warehouse}/loaded/{t}" for t in expected["batches"]]
        ids: dict[str, set] = {}
        for (batch_id,) in (spark.read.schema("batch_id string").parquet(*loaded)
                            .distinct().collect()):
            ids.setdefault(batch_id.rsplit("-", 1)[0], set()).add(batch_id)
        for t, n in expected["batches"].items():
            got = ids.get(t, set())
            res.check(got == {f"{t}-{i}" for i in range(1, n + 1)},
                      f"{t}: {len(got)} batch ids, expected {n}")
    except Exception as exc:  # noqa: BLE001
        res.error("batch ids", exc)
    if tables is None:
        return
    try:
        counts = dict(reduce(lambda a, b: a.unionByName(b), [
            tables[name].select(F.lit(name).alias("t")) for name in expected["tables"]
        ]).groupBy("t").count().collect())
        for name, n in expected["tables"].items():
            res.check(counts.get(name) == n, f"{name}: {counts.get(name)} rows, expected {n}")
    except Exception as exc:  # noqa: BLE001
        res.error("entity table counts", exc)


def _wrap_import_layers(tracer) -> None:
    from mbrainz_importer_spark import pipeline
    from mbrainz_importer_spark.operators import idempotency, transform

    tracer.wrap(pipeline.Importer, "load_type",
                lambda self, type_name, *a, **k: f"pipeline.load_type.{type_name}")
    for t in list(transform.TRANSFORMS):
        tracer.wrap(transform.TRANSFORMS, t, "operators.transform")
    tracer.wrap(pipeline, "assign_batch_ids", "operators.batching")
    tracer.wrap(pipeline, "to_envelopes", "operators.batching")

    def written(sp, result, sink, batches, *_):
        sp.attrs["batches_written"] = result.get("txes", 0)
        sp.attrs["input"] = batches  # counted by `_count_attempted`

    tracer.wrap(idempotency.IdempotentParquetSink, "load",
                "operators.idempotency.write", written)


def _count_attempted(tracer, warehouse: str) -> None:
    """Traced runs only, after the measured window: the batches each
    `IdempotentParquetSink.load` call was handed (distinct batch ids of
    its input frame). A `load_type` call that took the completed-import
    fast path never calls `load`; it attempted the batches its marker
    records and wrote none."""
    loads = tracer.named("operators.idempotency.write")
    for sp in loads:
        frame = sp.attrs.pop("input")
        sp.attrs["batches_attempted"] = frame.select("batch_id").distinct().count()
    for t in corpus.ENTITY_TYPES:
        for sp in tracer.named(f"pipeline.load_type.{t}"):
            if not any(sp.start <= w.start <= sp.end for w in loads):
                with open(f"{warehouse}/loaded/{t}/_IMPORT_COMPLETE.json",
                          encoding="utf-8") as fh:
                    sp.attrs["fast_path_batches"] = json.load(fh)["n_batches"]


def _parse_probe(tracer, importer, res: Result, expected: dict) -> None:
    """Traced runs only: parse each entity file on its own, so the EDN
    source's share of the import is visible (inside `run_import` parsing
    is fused into the stages that consume it)."""
    for t in corpus.ENTITY_TYPES:
        try:
            with tracer.span("sources.edn_source.parse", type=t):
                n = importer.read_entities(t).count()
            res.check(n == expected["rows"][t], f"parse {t}: {n} rows")
        except Exception as exc:  # noqa: BLE001
            res.error(f"parse {t}", exc)


# -- serve ------------------------------------------------------------------

def _write_tables(tables: dict, out_dir: str) -> dict:
    """Entity tables as parquet files, one directory per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    types = {"string": pa.string(), "long": pa.int64()}
    paths = {}
    for name, rows in tables.items():
        cols = corpus.TABLE_COLUMNS[name]
        schema = pa.schema([(c, types[t]) for c, t in cols])
        arrays = {c: [r.get(c) for r in rows] for c, _ in cols}
        d = os.path.join(out_dir, name)
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.table(arrays, schema=schema), os.path.join(d, "part-0.parquet"))
        paths[name] = d
    return paths


def _materialize(spark, tracer, tables: dict, scratch: str, store: str) -> None:
    from mbrainz_importer_spark.plans.eav import build_datoms, materialize_datoms

    paths = _write_tables(tables, scratch)
    frames = {name: (spark.read.parquet(p), "gid") for name, p in paths.items()}
    with tracer.span("plans.eav.materialize"):
        materialize_datoms(build_datoms(frames), store)


def _norm(rows) -> list:
    return sorted([list(r) for r in rows], key=repr)


def _expected(inst: dict) -> list:
    return sorted(inst["expected"], key=repr)


def _query_once(spark, tracer, clock, store: str, inst: dict) -> tuple[list, tuple]:
    from mbrainz_importer_spark.plans.eav import read_datoms
    from mbrainz_importer_spark.plans.pull import pull_many
    from mbrainz_importer_spark.plans.query_edn import q_edn

    w0, c0 = clock.now()
    with tracer.span("plans.eav.read_datoms"):
        db = read_datoms(spark, store)
    if inst["template"] == "pull_many":
        with tracer.span("plans.pull.build"):
            df = pull_many(db, corpus.PULL_SPEC, inst["params"])
        with tracer.span("plans.pull.action"):
            rows = df.select("e", *corpus.PULL_SPEC).collect()
    else:
        with tracer.span("plans.datalog.build", template=inst["template"]):
            df = q_edn(corpus.QUERIES[inst["template"]], db, *inst["params"])
        with tracer.span("plans.datalog.action", template=inst["template"]):
            rows = df.collect()
    w1, c1 = clock.now()
    return _norm(rows), (w1 - w0, c1 - c0)


class _Model:
    """The store's expected state: (e, a) -> value, every attribute
    cardinality one."""

    def __init__(self, datoms: dict):
        self.state = dict(datoms)
        self.touched: set[str] = set()

    def entity(self, e: str) -> list:
        return sorted([a, v] for (x, a), v in self.state.items() if x == e)


def _next_write(rng: random.Random, model: _Model, entities: dict, n: int) -> tuple[list, str, str]:
    """The n-th write: an add, a retract or a cas, cycling, on a seeded
    entity. Returns (tx form, e, a) and applies it to the model."""
    kind = ("add", "cas", "retract")[n % 3]
    if kind == "add":
        e = rng.choice(entities["artist"])
        a, v = ":artist/name", f"Renamed {n} {rng.randrange(10**6)}"
        model.state[(e, a)] = v
        form = [":db/add", e, a, v]
    elif kind == "cas":
        e = rng.choice(entities["release"])
        a = ":release/year"
        old = model.state.get((e, a))
        v = str(rng.randint(1950, 2020))
        form = [":db/cas", e, a, old, v]
        model.state[(e, a)] = v
    else:
        e = rng.choice(entities["release"])
        present = [a for (x, a) in model.state if x == e and a not in (
            ":release/gid", ":release/name")]
        a = rng.choice(sorted(present)) if present else ":release/name"
        form = [":db/retract", e, a, model.state[(e, a)]]
        del model.state[(e, a)]
    model.touched.add(e)
    return form, e, a


def run_serve(spark, tracer, clock, work: str, seed: int, seconds: float) -> Result:
    from pyspark.sql import functions as F

    from mbrainz_importer_spark.plans.client import connect
    from mbrainz_importer_spark.plans.eav import read_datoms, store_file_census

    res = Result()
    qstore = os.path.join(work, "query-store")
    conn_root = os.path.join(work, "conn")
    rounds = []
    for k, store in enumerate((qstore, os.path.join(conn_root, "store"),
                               os.path.join(work, "spare-store"))):
        w0, c0 = clock.now()
        tables, truth = corpus.write_corpus(os.path.join(work, f"corpus-{k}"), seed,
                                            SERVE_SCALE)
        _materialize(spark, tracer, tables, os.path.join(work, f"tables-{k}"), store)
        w1, c1 = clock.now()
        rounds.append((w1 - w0, c1 - c0))
    shutil.rmtree(os.path.join(work, "spare-store"))
    res.setup_parts["store"] = _median_pair(rounds)
    instances = truth["queries"]
    datoms = corpus.datoms(tables)
    census = store_file_census(qstore)
    res.facts["datoms"] = len(datoms)
    res.facts["store_files"] = sum(c["files"] for c in census.values())
    res.facts["store_partitions"] = len(census)

    rng = random.Random(seed * 104729 + 3)
    entities = {t: [f"{t}:{r['gid']}" for r in rows] for t, rows in tables.items()}
    model = _Model(datoms)
    conn = connect(spark, conn_root)
    if tracer.enabled:
        _wrap_client_layers(tracer)

    def query(inst) -> tuple | None:
        try:
            rows, took = _query_once(spark, tracer, clock, qstore, inst)
            res.check(rows == _expected(inst), f"{inst['template']} {inst['params'][:1]}")
            return took
        except Exception as exc:  # noqa: BLE001
            res.error(inst["template"], exc)
            return None

    n_writes = 0
    unindexed = 0  # ops in the log suffix that request_index has not folded in

    def write_cycle() -> None:
        """transact one form, then read the value back from `db()`."""
        nonlocal n_writes, unindexed
        form, e, a = _next_write(rng, model, entities, n_writes)
        n_writes += 1
        try:
            with tracer.span("plans.client.transact"):
                report, s = _timed(clock, lambda: conn.transact([form]))
            res.sample("transact", s)
            unindexed += report["n_ops"]
        except Exception as exc:  # noqa: BLE001
            res.error(f"transact {form[0]}", exc)
            return
        try:
            def read_back():
                with tracer.span("plans.client.db.build"):
                    db = conn.db()
                with tracer.span("plans.client.db.read_action", unindexed_ops=unindexed):
                    return [r[0] for r in db.where((F.col("e") == e) & (F.col("a") == a))
                            .select("v").collect()]

            got, took = _timed(clock, read_back)
            res.sample("read_after_write", took)
            want = model.state.get((e, a))
            res.check(got == ([] if want is None else [want]),
                      f"read-your-write {form[0]} {e} {a}: {got} != {want}")
        except Exception as exc:  # noqa: BLE001
            res.error("read after write", exc)

    def write_group() -> None:
        """INDEX_EVERY writes, then request_index folds the suffix in."""
        nonlocal unindexed
        for _ in range(INDEX_EVERY):
            write_cycle()
        try:
            before = store_file_census(conn.store_path) if tracer.enabled else None
            with tracer.span("plans.client.request_index", ops=unindexed) as sp:
                _, s = _timed(clock, conn.request_index)
            if sp is not None:
                _census_delta(sp, before, store_file_census(conn.store_path))
            res.sample("index", s)
            unindexed = 0
        except Exception as exc:  # noqa: BLE001
            res.error("request_index", exc)

    def check_store() -> None:
        """The touched entities in the indexed store equal the model."""
        try:
            touched = sorted(model.touched)
            got: dict = {}
            for r in read_datoms(spark, conn.store_path).where(
                    F.col("e").isin(touched)).select("e", "a", "v").collect():
                got.setdefault(r[0], []).append([r[1], r[2]])
            res.check(all(sorted(got.get(x, [])) == model.entity(x) for x in touched),
                      f"store after index differs from the model on {len(touched)} entities")
        except Exception as exc:  # noqa: BLE001
            res.error("store check", exc)

    # warm-up: every query template on its first parameter draws, and the
    # write groups
    w0, c0 = clock.now()
    cycle = len(corpus.QUERIES) + 1
    for inst in instances[:cycle * WARMUP_ROUNDS]:
        query(inst)
    for _ in range(WARMUP_ROUNDS):
        write_group()
    check_store()
    res.samples.clear()
    res.cpu.clear()
    w1, c1 = clock.now()
    res.setup_parts["warmup"] = (w1 - w0, c1 - c0)

    # the writes come first, straight after the warm-up's write groups: the
    # first index job after a switch from queries cost a third more
    t0, c0 = clock.now()
    with tracer.span("workload.serve"):
        for g in range(WRITE_GROUPS):
            with _alternate(res, tracer, g):
                write_group()
        t_w = time.perf_counter()
        res.facts["write_phase_s"] = t_w - t0
        for r in range(QUERY_ROUNDS):
            with _alternate(res, tracer, r):
                first = cycle * (WARMUP_ROUNDS + r)
                for inst in instances[first:first + cycle]:
                    took = query(inst)
                    if took is not None:
                        res.sample("pull" if inst["template"] == "pull_many" else "query",
                                   took)
                        res.sample(f"template.{inst['template']}", took)
        res.facts["query_phase_s"] = time.perf_counter() - t_w
    res.measured_s = time.perf_counter() - t0
    res.measured_cpu_s = clock.cpu() - c0
    check_store()
    tracer.unwrap_all()
    return res


def _census_delta(sp, before: dict, after: dict) -> None:
    touched = [p for p, c in after.items() if before.get(p) != c]
    touched += [p for p in before if p not in after]
    sp.attrs["touched_partitions"] = len(touched)
    sp.attrs["bytes_rewritten"] = sum(after[p]["bytes"] for p in touched if p in after)
    sp.attrs["files_after"] = sum(c["files"] for c in after.values())


def _wrap_client_layers(tracer) -> None:
    from mbrainz_importer_spark.plans import eav, tx_fns

    tracer.wrap(tx_fns, "transact", "plans.client.transact.expand")
    tracer.wrap(eav, "merge_datoms_increment", "plans.eav.merge")


WORKLOADS = {"import": run_import, "serve": run_serve}
