"""Import DAG orchestration (SURVEY.md §3.1–§3.3, §7.2 M2).

The reference's entry point A: sequential stages in `import-order`
(importer.clj:40-44), each internally parallel. Stages here:

  dim/config stages (schema, enums, super-enums) — tiny, driver-parsed
  like the reference's slurp (importer.clj:257-269), then broadcast.

  entity stages — distributed: EDN source -> per-type transform (broadcast
  dim resolution) persisted once -> zero-miss guard -> deterministic
  batching -> numbered rows (batch_id, data columns, _rn) -> idempotent
  sink. The EDN file is parsed once per stage; every later action (the
  guard, the batching aggregates, the sink's stats and append) reads the
  persisted rows.

The intermediate "batch file" of the reference (subsets/batches/*.edn) is
an envelope DataFrame here (`create_batches`), used for golden-format
parity and EDN export only; the load writes the numbered rows directly,
one row per entity with its batch_id, which is what exploding the
envelopes gave back.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

from . import schema as SCH
from .operators.batching import assign_batch_ids, to_envelopes
from .operators.enums import assert_no_misses, enums_dim, super_enums_dim
from .operators.idempotency import BATCH_ID_COL, IdempotentParquetSink
from .operators.transform import TRANSFORMS, to_tx_data
from .sources.edn_source import read_edn_entities, read_edn_forms_local

IMPORT_ORDER = [
    "schema", "enums", "super-enums", "artists", "areleases",
    "areleases-artists", "labels", "releases", "releases-artists", "media",
]  # importer.clj:40-44

BATCH_ID_ATTR = ":mbrainz.initial-import/batch-id"  # importer.clj:277
DEFAULT_BATCH_SIZE = 100  # importer/batch.clj:14 "suggest 100"

DIM_STAGES = frozenset({"schema", "enums", "super-enums"})


@contextmanager
def _phase(sc: SparkContext, description: str):
    """Name the Spark jobs of one import phase in the UI
    (`import:<type>:<phase>`), restoring the caller's description after."""
    prior = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(description)
    try:
        yield
    finally:
        sc.setJobDescription(prior)


@dataclass
class Importer:
    """Analog of ImporterImpl (importer.clj:203-255): basedir + broadcastable
    dimension DataFrames.

    The dims are driver-literal LocalRelations and stay uncached: their
    rows already live on the driver and a broadcast costs one small job
    either way, so a cache would add only its own fill job and a
    persisted RDD that outlives the import."""

    spark: SparkSession
    basedir: str
    enums: DataFrame = field(init=False)
    supers: DataFrame = field(init=False)

    def __post_init__(self) -> None:
        self.enums = enums_dim(self.spark, f"{self.basedir}/entities/enums.edn")
        self.supers = super_enums_dim(self.spark, self.basedir)

    # -- sources ----------------------------------------------------------
    def entities_file(self, type_name: str) -> str:
        return f"{self.basedir}/entities/{type_name}.edn"

    def read_entities(self, type_name: str) -> DataFrame:
        return read_edn_entities(
            self.spark, self.entities_file(type_name), SCH.ENTITY_SCHEMAS[type_name]
        )

    # -- dim/config stages (driver-side, tiny) ----------------------------
    def dim_tx_data(self, type_name: str) -> list[dict]:
        """tx-data rows for schema/enums/super-enums stages
        (cat importer.clj:229; enums->tx-data :190-196;
        super-enums->tx-data :198-201)."""
        if type_name == "schema":
            forms = read_edn_forms_local(self.entities_file("schema"))
            return [m for form in forms for m in form]  # `cat` splice
        if type_name == "enums":
            [raw] = read_edn_forms_local(self.entities_file("enums"))
            out = []
            for mapping in raw.values():
                for str_val, ident in mapping.items():
                    ns = ident[1:].rsplit("/", 1)[0]
                    out.append({":db/ident": ident, f":{ns}/name": str_val})
            return out
        if type_name == "super-enums":
            out = []
            for fname in ("countries.edn", "langs.edn", "scripts.edn"):
                [raw] = read_edn_forms_local(f"{self.basedir}/entities/{fname}")
                out.extend(raw.values())
            return out
        raise KeyError(type_name)

    def dim_batches(self, type_name: str, batch_size: int = DEFAULT_BATCH_SIZE) -> list[dict]:
        """Envelope list for a dim/config stage (driver-side G3)."""
        rows = self.dim_tx_data(type_name)
        out = []
        for i in range(0, len(rows), batch_size):
            out.append({
                "batch_id": f"{type_name}-{i // batch_size + 1}",
                "data": rows[i : i + batch_size],
            })
        return out

    # -- entity stages (distributed) --------------------------------------
    def resolved(self, type_name: str) -> DataFrame:
        """EDN source -> per-type transform with dim resolution, still
        carrying the `__miss_*` indicators `assert_no_misses` checks."""
        raw = self.read_entities(type_name)
        return TRANSFORMS[type_name](raw, self.enums, self.supers)

    def transformed(self, type_name: str) -> DataFrame:
        """Resolved rows, every dimension lookup checked (one action)."""
        return assert_no_misses(self.resolved(type_name))

    @staticmethod
    def numbered(t: DataFrame, type_name: str, batch_size: int) -> DataFrame:
        """Deterministic batching of transformed rows in source order:
        DataFrame[batch_id, <data columns>, _rn]. `_rn` is the global row
        number; the sink keeps it so unique-identity upserts (J2) have
        Datomic's later-assertion-wins order available (duplicate gids in
        a stream merge in stream order; see plans.metaschema compaction)."""
        data_cols = [c for c in t.columns if c != "_row_idx"]
        batched = assign_batch_ids(t, batch_size, type_name, ["_row_idx"], rn_col="_rn")
        return batched.select(BATCH_ID_COL, *data_cols, "_rn")

    def create_batches(
        self, type_name: str, batch_size: int = DEFAULT_BATCH_SIZE
    ) -> DataFrame:
        """Entry point B (create-batch-file, importer.clj:279-296):
        transform + deterministic batching + envelope assembly.
        Returns DataFrame[batch_id, data array<struct>, __first_rn]."""
        rows = self.numbered(self.transformed(type_name), type_name, batch_size)
        return to_envelopes(rows, rows.columns[1:], rn_col="_rn")

    # -- load phase (entry point C, importer.clj:298-316) ------------------
    def load_type(
        self, type_name: str, warehouse: str, batch_size: int = DEFAULT_BATCH_SIZE
    ) -> dict:
        """Idempotent load of one entity stage into the warehouse:
        numbered rows -> anti-join against already-loaded batch ids ->
        append with batch_id atomic-with-data. Re-running is a no-op
        ({'txes': 0}).

        One parse per stage: the transformed, enum-resolved rows are
        persisted once and every later action reads them — the miss
        guard (whose single aggregate fills the cache), the batching
        aggregates and the sink's load. This call owns that frame and
        unpersists it on every exit, the guard's failure included. The
        numbered rows go to the sink as they are; envelopes are built
        only by `create_batches` for the golden/EDN export. The phases'
        jobs are described `import:<type>:resolve|number|write`.

        Fast path: a completed load writes a marker with its batch count;
        a re-run whose sink still matches the marker skips source parsing
        and transformation entirely (the reference's already-transacted
        gate, batch.clj:46-60, applied before any work). A crashed run
        leaves no marker, so restart takes the full anti-join path.

        Batch-size guard: batch ids like 'artists-1' denote different row
        sets at different batch sizes, so loading into a sink that was
        started at another batch_size would silently duplicate/skip rows —
        the hazard the reference README warns about ('Never import at
        different batch sizes into the same db'). The requested size is
        recorded at load START (so crashed runs are covered too) and any
        mismatch raises instead of proceeding."""
        import json as _json
        import os

        sink_path = f"{warehouse}/loaded/{type_name}"
        marker = f"{sink_path}/_IMPORT_COMPLETE.json"
        size_file = f"{sink_path}/_BATCH_SIZE.json"
        sink = IdempotentParquetSink(sink_path)
        recorded = None
        if os.path.exists(size_file):
            with open(size_file, encoding="utf-8") as fh:
                recorded = _json.load(fh)["batch_size"]
        elif os.path.exists(marker):  # sinks predating the size file
            with open(marker, encoding="utf-8") as fh:
                recorded = _json.load(fh)["batch_size"]
        if recorded is not None and recorded != batch_size:
            raise ValueError(
                f"{type_name}: sink {sink_path} was loaded with "
                f"batch_size={recorded}; re-importing at batch_size="
                f"{batch_size} would corrupt batch identity — use a fresh "
                "warehouse or the original batch size"
            )
        if os.path.exists(marker):
            with open(marker, encoding="utf-8") as fh:
                expected = _json.load(fh)
            done = sink.done_ids(self.spark).count()
            if done == expected["n_batches"]:
                return {"txes": 0, "datoms": 0}

        os.makedirs(sink_path, exist_ok=True)
        if not os.path.exists(size_file):
            with open(size_file, "w", encoding="utf-8") as fh:
                _json.dump({"batch_size": batch_size}, fh)

        sc = self.spark.sparkContext
        resolved = None
        try:
            with _phase(sc, f"import:{type_name}:resolve"):
                resolved = self.resolved(type_name).persist()
                checked = assert_no_misses(resolved)
            with _phase(sc, f"import:{type_name}:number"):
                rows = self.numbered(checked, type_name, batch_size)
            with _phase(sc, f"import:{type_name}:write"):
                result = sink.load(rows, self.spark)
                n_batches = sink.done_ids(self.spark).count()
        finally:
            if resolved is not None:
                resolved.unpersist()
        with open(marker, "w", encoding="utf-8") as fh:
            _json.dump({"n_batches": n_batches, "batch_size": batch_size}, fh)
        return result

    def run_import(
        self, warehouse: str, batch_size: int = DEFAULT_BATCH_SIZE,
        import_order: list[str] | None = None,
    ) -> dict[str, dict]:
        """Entry point A (-main, importer.clj:318-352): sequential stage DAG,
        each stage internally parallel and idempotent. Stages whose entity
        file is absent (media in the stripped reference) are skipped with a
        marker. Dim/config stages are metadata, not fact loads — recorded
        with driver-side row counts."""
        import os

        order = import_order or IMPORT_ORDER
        unknown = [t for t in order if t not in DIM_STAGES and t not in TRANSFORMS]
        if unknown:
            raise KeyError(
                f"unknown import stage(s) {unknown}; valid: {IMPORT_ORDER}"
            )
        results: dict[str, dict] = {}
        for type_name in order:
            if type_name in DIM_STAGES:
                results[type_name] = {"rows": len(self.dim_tx_data(type_name))}
                continue
            if not os.path.exists(self.entities_file(type_name)):
                results[type_name] = {"skipped": "entity file absent"}
                continue
            results[type_name] = self.load_type(type_name, warehouse, batch_size)
        return results

    def batch_tx_data(self, type_name: str, batch_size: int = DEFAULT_BATCH_SIZE) -> list[dict]:
        """Envelopes as the reference's EDN shape (golden comparison):
        [{batch_id, data: [tx-map, ...]}, ...] in batch order."""
        if type_name in DIM_STAGES:
            return self.dim_batches(type_name, batch_size)
        env = self.create_batches(type_name, batch_size).orderBy("__first_rn").collect()
        return [
            {
                "batch_id": r["batch_id"],
                "data": [
                    to_tx_data(type_name, m.asDict(recursive=True)) for m in r["data"]
                ],
            }
            for r in env
        ]
