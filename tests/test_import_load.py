"""Load phase of the importer (`Importer.load_type` / `run_import`) on a
tiny inline EDN corpus: exactly-once batches, restart from a preloaded
prefix, the dimension-miss guard, and no cache left behind."""

from __future__ import annotations

import pytest

from mbrainz_importer_spark.operators.enums import MissingDimensionValue
from mbrainz_importer_spark.operators.idempotency import (
    IdempotentParquetSink,
    load_envelopes,
)
from mbrainz_importer_spark.operators.transform import to_tx_data
from mbrainz_importer_spark.pipeline import Importer

BATCH = 3  # small batches, so a handful of rows spans several

_DIMS = {
    "schema.edn": (
        "[{:db/ident :artist/gid :db/cardinality :db.cardinality/one"
        " :db/unique :db.unique/identity}"
        " {:db/ident :artist/name :db/cardinality :db.cardinality/one}]"
    ),
    "enums.edn": (
        '{artist_type {"Person" :artist.type/person "Group" :artist.type/group}'
        ' gender {"Male" :artist.gender/male "Female" :artist.gender/female}'
        ' label_type {"Publisher" :label.type/publisher}'
        ' medium_format {"CD" :medium.format/cd "Vinyl" :medium.format/vinyl}}'
    ),
    "countries.edn": (
        '{"GB" {:db/ident :country/GB :country/name "United Kingdom" :country/code "GB"}'
        ' "US" {:db/ident :country/US :country/name "United States" :country/code "US"}}'
    ),
    "langs.edn": (
        '{"eng" {:db/ident :language/eng :language/name "English" :language/code "eng"}}'
    ),
    "scripts.edn": (
        '{"Latn" {:db/ident :script/Latn :script/name "Latin" :script/code "Latn"}}'
    ),
}


def _artist(i: int, **extra) -> str:
    keys = " ".join(f':{k} "{v}"' for k, v in extra.items())
    return (f'{{:gid #uuid "00000000-0000-4000-8000-{i:012d}" :name "A{i}"'
            f' :sortname "A{i}" {keys} :begin_date_year {1950 + i}}}')


# 8 artists -> batches of 3, 3, 2; optional keys absent on some rows
_ARTISTS = [
    _artist(1, type="Person", gender="Male", country="GB"),
    _artist(2, type="Group", country="US"),
    _artist(3),
    _artist(4, type="Person", gender="Female"),
    _artist(5, country="GB"),
    _artist(6, type="Group"),
    _artist(7, gender="Male", country="US"),
    _artist(8, type="Person"),
]

_LABELS = [
    '{:gid #uuid "10000000-0000-4000-8000-000000000001" :name "L1" :type "Publisher" :country "US"}',
    '{:gid #uuid "10000000-0000-4000-8000-000000000002" :name "L2"}',
]


def _track(medium: int, tracknum: int, artist: int, fmt: str | None = "CD") -> str:
    f = f' :format "{fmt}"' if fmt else ""
    return (f'{{:id {medium} :release #uuid "20000000-0000-4000-8000-{medium:012d}"'
            f' :position 1 :track_count 2{f} :name "T{medium}.{tracknum}"'
            f' :tracknum {tracknum} :length {1000 * tracknum}'
            f' :artist #uuid "00000000-0000-4000-8000-{artist:012d}"}}')


# 4 media, one track row per artist, clustered by medium id; medium 2's
# second track has two artists; medium 3 has no format
_MEDIA = [
    _track(1, 1, 1), _track(1, 2, 2),
    _track(2, 1, 3, "Vinyl"), _track(2, 2, 4, "Vinyl"), _track(2, 2, 5, "Vinyl"),
    _track(3, 1, 6, None),
    _track(4, 1, 7), _track(4, 2, 8),
]


def _write_corpus(root, artists=_ARTISTS) -> str:
    ent = root / "entities"
    ent.mkdir(parents=True)
    for name, text in _DIMS.items():
        (ent / name).write_text(text + "\n", encoding="utf-8")
    for name, lines in (("artists", artists), ("labels", _LABELS), ("media", _MEDIA)):
        (ent / f"{name}.edn").write_text("\n".join(lines) + "\n", encoding="utf-8")
    return str(root)


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _sink_rows(spark, wh: str, type_name: str) -> dict[str, list[dict]]:
    """Sink rows per batch id, in `_rn` order, without the batch_id column."""
    out: dict[str, list[dict]] = {}
    for r in spark.read.parquet(f"{wh}/loaded/{type_name}").collect():
        d = r.asDict(recursive=True)
        out.setdefault(d.pop("batch_id"), []).append(d)
    return {b: sorted(rows, key=lambda d: d["_rn"]) for b, rows in out.items()}


@pytest.fixture(scope="module")
def importer(spark, tmp_path_factory):
    return Importer(spark, _write_corpus(tmp_path_factory.mktemp("corpus")))


@pytest.mark.parametrize("type_name,n_rows", [("artists", 8), ("media", 4)])
def test_sink_rows_equal_envelopes(importer, spark, tmp_path, type_name, n_rows):
    """The rows written straight from the numbered frame are the rows the
    envelopes hold: same batch ids, members, `_rn` and order."""
    wh = str(tmp_path)
    n_batches = -(-n_rows // BATCH)
    assert importer.load_type(type_name, wh, BATCH) == {
        "txes": n_batches, "datoms": n_rows,
    }
    sink = _sink_rows(spark, wh, type_name)

    envelopes = {
        r["batch_id"]: [m.asDict(recursive=True) for m in r["data"]]
        for r in importer.create_batches(type_name, BATCH).collect()
    }
    assert sink == envelopes
    rns = [[d["_rn"] for d in sink[f"{type_name}-{b}"]] for b in range(1, n_batches + 1)]
    assert sum(rns, []) == list(range(1, n_rows + 1))

    golden = importer.batch_tx_data(type_name, BATCH)
    assert [e["batch_id"] for e in golden] == [f"{type_name}-{b}" for b in range(1, n_batches + 1)]
    for env in golden:
        assert [to_tx_data(type_name, d) for d in sink[env["batch_id"]]] == env["data"]


def test_media_rows_resolved(importer, spark, tmp_path):
    wh = str(tmp_path)
    importer.load_type("media", wh, BATCH)
    rows = {r["id"]: r for r in spark.read.parquet(f"{wh}/loaded/media").collect()}
    assert rows[1]["format"] == ":medium.format/cd"
    assert rows[2]["format"] == ":medium.format/vinyl"
    assert rows[3]["format"] is None
    assert rows[2]["tracks"][1]["artist_gids"] == [
        "00000000-0000-4000-8000-000000000004", "00000000-0000-4000-8000-000000000005",
    ]
    assert [r["batch_id"] for r in sorted(rows.values(), key=lambda r: r["_rn"])] == [
        "media-1", "media-1", "media-1", "media-2",
    ]


def test_run_import_then_rerun_is_noop(importer, spark, tmp_path):
    wh = str(tmp_path)
    first = importer.run_import(wh, BATCH)
    assert first["artists"] == {"txes": 3, "datoms": 8}
    assert first["labels"] == {"txes": 1, "datoms": 2}
    assert first["media"] == {"txes": 2, "datoms": 4}
    assert first["releases"] == {"skipped": "entity file absent"}
    assert first["enums"] == {"rows": 7}
    again = importer.run_import(wh, BATCH)
    for t in ("artists", "labels", "media"):
        assert again[t] == {"txes": 0, "datoms": 0}
    assert spark.read.parquet(f"{wh}/loaded/artists").count() == 8


def test_preloaded_prefix_writes_only_missing_batches(importer, spark, tmp_path):
    """A crashed run left the first batch: the full load writes the rest
    and no row twice."""
    wh = str(tmp_path)
    env = importer.create_batches("artists", BATCH)
    sink = IdempotentParquetSink(f"{wh}/loaded/artists")
    assert load_envelopes(sink, env.where(env.batch_id == "artists-1"), spark) == {
        "txes": 1, "datoms": 3,
    }
    assert importer.load_type("artists", wh, BATCH) == {"txes": 2, "datoms": 5}
    loaded = spark.read.parquet(f"{wh}/loaded/artists")
    assert loaded.count() == 8
    assert loaded.select("gid").distinct().count() == 8
    assert importer.load_type("artists", wh, BATCH) == {"txes": 0, "datoms": 0}


def test_batch_size_mismatch_raises(importer, tmp_path):
    wh = str(tmp_path)
    importer.load_type("labels", wh, BATCH)
    with pytest.raises(ValueError, match="batch_size"):
        importer.load_type("labels", wh, BATCH + 1)
    assert importer.load_type("labels", wh, BATCH) == {"txes": 0, "datoms": 0}


def test_unknown_enum_raises_and_releases_cache(spark, tmp_path):
    bad = _ARTISTS[:4] + [_artist(9, type="Robot")] + _ARTISTS[4:]
    imp = Importer(spark, _write_corpus(tmp_path / "corpus", artists=bad))
    before = _persisted(spark)
    with pytest.raises(MissingDimensionValue, match=r"\['type'\]"):
        imp.load_type("artists", str(tmp_path / "wh"), BATCH)
    assert _persisted(spark) == before
    assert not (tmp_path / "wh" / "loaded" / "artists" / "_IMPORT_COMPLETE.json").exists()


def test_load_leaves_no_persisted_rdd(importer, spark, tmp_path):
    before = _persisted(spark)
    importer.load_type("media", str(tmp_path), BATCH)
    assert _persisted(spark) == before


def test_phases_are_named_and_description_restored(importer, spark, tmp_path):
    sc = spark.sparkContext
    sc.setJobDescription("outer")
    try:
        importer.load_type("labels", str(tmp_path), BATCH)
        assert sc.getLocalProperty("spark.job.description") == "outer"
    finally:
        sc.setJobDescription(None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)
    jobs = jsc.statusStore().jobsList(None)
    described = set()
    for i in range(jobs.size()):
        d = jobs.apply(i).description()
        if d.isDefined():
            described.add(d.get())
    assert {f"import:labels:{p}" for p in ("resolve", "number", "write")} <= described
