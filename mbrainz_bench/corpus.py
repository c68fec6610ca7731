"""Seeded generator for an mbrainz-shaped EDN corpus and its ground truth.

The shapes follow FIXTURES.md: the four dimension files (`enums.edn`,
`countries.edn`, `langs.edn`, `scripts.edn`) plus `schema.edn`, and the
seven entity files in import order. Optional keys are left out of a map,
never written as `nil`. About one release in a hundred is written twice
under the same gid (a later, partly different assertion). Media rows are
one per track, consecutive per medium id, and a multi-artist track is a
run of adjacent rows sharing `(id, tracknum)`.

Everything is a pure function of `(seed, scale)`: the same arguments give
byte-identical files. Beside the corpus the generator computes, in plain
Python, what the engine must answer:

- import: raw rows and expected batch ids per entity type, and the row
  count of every entity table (unique gids, distinct link pairs);
- query: a list of parameterised query instances with their answers, and
  a 50-entity pull with its rows;
- the entity tables themselves (after Datomic's unique-identity upsert,
  later non-null assertions winning), which the query and transact
  workloads materialise as the datom store and use as their state model.
"""

from __future__ import annotations

import json
import math
import os
import random
import uuid

BATCH_SIZE = 100

# reference row counts at scale 1.0 (FIXTURES.md section 1)
_BASE = {"artists": 4600, "labels": 1200, "areleases": 10200, "releases": 11500}

ENUMS = {
    "gender": ["Male", "Female", "Other"],
    "artist_type": ["Person", "Group", "Other"],
    "release_group_type": ["Album", "Single", "EP", "Audiobook", "Other"],
    "release_packaging": [
        "Jewel Case", "Slim Jewel Case", "Digipak", "Cardboard/Paper Sleeve",
        "Keep Case", "None", "Other",
    ],
    "medium_format": [
        "CD", "DVD", "SACD", "DualDisc", "LaserDisc", "MiniDisc", "Vinyl",
        "Cassette", "Cartridge", "Reel-to-reel", "DAT", "Digital Media",
        "Other", "Wax Cylinder", "Piano Roll", "DCC", "HD-DVD", "DVD-Audio",
        "DVD-Video", "Blu-ray", "VHS", "VCD", "SVCD", "Betamax", "HDCD",
        "USB Flash Drive", "slotMusic", "UMD", "CD-R", "8cm CD", "7\" Vinyl",
        "10\" Vinyl", "12\" Vinyl", "Enhanced CD",
    ],
    "label_type": [
        "Distributor", "Holding", "Production", "Original Production",
        "Bootleg Production", "Reissue Production", "Publisher",
    ],
}
_ENUM_NS = {
    "gender": "artist.gender",
    "artist_type": "artist.type",
    "release_group_type": "release.type",
    "release_packaging": "release.packaging",
    "medium_format": "medium.format",
    "label_type": "label.type",
}
COUNTRIES = [a + b for a in "ABCDEFGHIJ" for b in "AEIMQU"]            # 60
LANGS = [a + b + c for a in "bdfk" for b in "aeo" for c in "nrt"]        # 36
SCRIPTS = [a + b + "xy" for a in "CGLM" for b in "aeiou"]                # 20
STATUSES = ["Official", "Promotion", "Bootleg", "Pseudo-Release"]
_SYLL = [
    "ka", "lo", "mi", "ra", "to", "ve", "su", "ne", "bo", "li", "da", "zu",
    "fe", "gi", "ho", "ju", "pa", "ri", "so", "ta", "wy", "xe", "ö", "é",
]


def enum_ident(enum_type: str, value: str) -> str:
    slug = "".join(c if c.isalnum() else "-" for c in value.lower()).strip("-")
    return f":{_ENUM_NS[enum_type]}/{slug}"


def super_ident(table: str, code: str) -> str:
    ns = {"countries": "country", "langs": "language", "scripts": "script"}[table]
    return f":{ns}/{code}"


# -- EDN writing ------------------------------------------------------------

class Uuid(str):
    """A string written as a `#uuid` tagged literal."""


class Kw(str):
    """A string written as a keyword (text includes the leading colon)."""


class Sym(str):
    """A string written as a bare symbol."""


def _edn(v) -> str:
    if isinstance(v, Uuid):
        return f'#uuid "{v}"'
    if isinstance(v, (Kw, Sym)):
        return str(v)
    if isinstance(v, str):
        return '"' + v.replace("\\", "\\\\").replace('"', '\\"') + '"'
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, dict):
        return "{" + " ".join(f"{_edn(k)} {_edn(x)}" for k, x in v.items()) + "}"
    if isinstance(v, list):
        return "[" + " ".join(_edn(x) for x in v) + "]"
    raise TypeError(f"no EDN form for {type(v).__name__}")


def _entity_line(row: dict) -> str:
    return _edn({Kw(":" + k): v for k, v in row.items()})


# -- generation -------------------------------------------------------------

def _uuid(rng: random.Random) -> Uuid:
    return Uuid(uuid.UUID(int=rng.getrandbits(128), version=4))


def _name(rng: random.Random, i: int, words: int) -> str:
    parts = [
        "".join(rng.choice(_SYLL) for _ in range(rng.randint(2, 3))).capitalize()
        for _ in range(words)
    ]
    return " ".join(parts) + f" {i:x}"


def _maybe(rng: random.Random, p: float, row: dict, key: str, value) -> None:
    if rng.random() < p:
        row[key] = value


def _dates(rng: random.Random, row: dict, prefix: str, p: float) -> None:
    if rng.random() < p:
        row[f"{prefix}_year"] = rng.randint(1940, 2020)
        _maybe(rng, 0.7, row, f"{prefix}_month", rng.randint(1, 12))
        if f"{prefix}_month" in row:
            _maybe(rng, 0.7, row, f"{prefix}_day", rng.randint(1, 31))


def generate(seed: int, scale: float) -> dict:
    """The raw entity rows per type, in file order, as dicts of
    un-keyworded keys. Deterministic in (seed, scale)."""
    rng = random.Random(seed)
    n = {k: max(2, round(v * scale)) for k, v in _BASE.items()}

    artists = []
    for i in range(n["artists"]):
        name = _name(rng, i, rng.randint(1, 2))
        row = {"gid": _uuid(rng), "name": name, "sortname": name}
        _maybe(rng, 0.6, row, "type", rng.choice(ENUMS["artist_type"]))
        _maybe(rng, 0.5, row, "gender", rng.choice(ENUMS["gender"]))
        _maybe(rng, 0.6, row, "country", rng.choice(COUNTRIES))
        _dates(rng, row, "begin_date", 0.5)
        _dates(rng, row, "end_date", 0.2)
        artists.append(row)

    labels = []
    for i in range(n["labels"]):
        name = _name(rng, i, 2)
        row = {"gid": _uuid(rng), "name": name, "sort_name": name}
        _maybe(rng, 0.7, row, "type", rng.choice(ENUMS["label_type"]))
        _maybe(rng, 0.6, row, "country", rng.choice(COUNTRIES))
        _dates(rng, row, "begin_date", 0.5)
        _dates(rng, row, "end_date", 0.1)
        labels.append(row)

    areleases, areleases_artists = [], []
    for i in range(n["areleases"]):
        gid = _uuid(rng)
        credit = rng.sample(artists, rng.choice((1, 1, 1, 2)))
        row = {
            "gid": gid,
            "name": _name(rng, i, rng.randint(1, 3)),
            "artist_credit": " & ".join(a["name"] for a in credit),
        }
        _maybe(rng, 0.8, row, "type", rng.choice(ENUMS["release_group_type"]))
        areleases.append(row)
        for a in credit:
            areleases_artists.append({"release_group": gid, "artist": a["gid"]})

    releases, releases_artists, media = [], [], []
    medium_id = 0
    for i in range(n["releases"]):
        ar = rng.choice(areleases)
        row = {"gid": _uuid(rng), "name": ar["name"], "release_group": ar["gid"]}
        _maybe(rng, 0.9, row, "artist_credit", ar["artist_credit"])
        _maybe(rng, 0.7, row, "label", rng.choice(labels)["gid"])
        _maybe(rng, 0.5, row, "packaging", rng.choice(ENUMS["release_packaging"]))
        _maybe(rng, 0.9, row, "status", rng.choice(STATUSES))
        _maybe(rng, 0.8, row, "country", rng.choice(COUNTRIES))
        _maybe(rng, 0.7, row, "language", rng.choice(LANGS))
        _maybe(rng, 0.7, row, "script", rng.choice(SCRIPTS))
        _maybe(rng, 0.4, row, "barcode", str(rng.randrange(10**11, 10**12)))
        _dates(rng, row, "date", 0.85)
        _maybe(rng, 0.5, row, "acid", rng.randrange(1, 10**6))
        releases.append(row)
        credit = rng.sample(artists, rng.choice((1, 1, 1, 1, 2)))
        for a in credit:
            releases_artists.append({"release": row["gid"], "artist": a["gid"]})
        if rng.random() < 0.02:  # a redelivered pair: set semantics on load
            releases_artists.append({"release": row["gid"], "artist": credit[0]["gid"]})
        if rng.random() < 0.01:
            # the same gid asserted again later in the file (upsert)
            dup = {"gid": row["gid"], "name": row["name"] + " (remaster)",
                   "release_group": row["release_group"]}
            _maybe(rng, 0.9, dup, "status", rng.choice(STATUSES))
            _dates(rng, dup, "date", 0.9)
            releases.append(dup)
        n_media = rng.choice((1, 1, 1, 2, 2, 3)) if rng.random() < 0.7 else 0
        for pos in range(1, n_media + 1):
            medium_id += 1
            n_tracks = rng.randint(3, 12)
            fmt = rng.choice(ENUMS["medium_format"]) if rng.random() < 0.8 else None
            for t in range(1, n_tracks + 1):
                performers = rng.sample(credit + rng.sample(artists, 1),
                                        2 if rng.random() < 0.1 else 1)
                length = rng.randint(30_000, 600_000) if rng.random() < 0.9 else None
                name = _name(rng, t, rng.randint(1, 3))
                for a in performers:
                    track = {"id": medium_id, "release": row["gid"],
                             "position": pos, "track_count": n_tracks}
                    if fmt is not None:
                        track["format"] = fmt
                    track["name"] = name
                    track["tracknum"] = t
                    if length is not None:
                        track["length"] = length
                    track["artist"] = a["gid"]
                    media.append(track)
    return {
        "artists": artists,
        "areleases": areleases,
        "areleases-artists": areleases_artists,
        "labels": labels,
        "releases": releases,
        "releases-artists": releases_artists,
        "media": media,
    }


ENTITY_TYPES = (
    "artists", "areleases", "areleases-artists", "labels", "releases",
    "releases-artists", "media",
)


def _dims() -> dict[str, object]:
    enums = {
        Sym(t): {v: Kw(enum_ident(t, v)) for v in vals} for t, vals in ENUMS.items()
    }

    def table(ns: str, codes: list[str], label: str) -> dict:
        return {
            c: {Kw(":db/ident"): Kw(f":{ns}/{c}"), Kw(f":{ns}/name"): f"{label} {c}",
                Kw(f":{ns}/code"): c}
            for c in codes
        }

    attrs = []
    for ns, cols in (
        ("artist", ("gid", "name", "sortName", "type", "gender", "country",
                    "startYear", "endYear", "endMonth", "endDay")),
        ("label", ("gid", "name", "sortName", "type", "country", "startYear")),
        ("abstractRelease", ("gid", "name", "type", "artistCredit", "artists")),
        ("release", ("gid", "name", "artistCredit", "labels", "packaging",
                     "status", "country", "language", "script", "barcode",
                     "year", "month", "day", "abstractRelease", "artists",
                     "media")),
        ("medium", ("position", "trackCount", "format", "tracks")),
        ("track", ("name", "position", "duration", "artists")),
    ):
        for c in cols:
            attr = {Kw(":db/ident"): Kw(f":{ns}/{c}"),
                    Kw(":db/cardinality"): Kw(":db.cardinality/one")}
            if c == "gid":
                attr[Kw(":db/unique")] = Kw(":db.unique/identity")
            attrs.append(attr)
    return {
        "schema.edn": attrs,
        "enums.edn": enums,
        "countries.edn": table("country", COUNTRIES, "Country"),
        "langs.edn": table("language", LANGS, "Language"),
        "scripts.edn": table("script", SCRIPTS, "Script"),
    }


# -- ground truth -----------------------------------------------------------

def _compact(rows: list[dict]) -> list[dict]:
    """Datomic unique-identity upsert: one row per gid, first-seen order,
    a later non-null value overriding an earlier one."""
    out: dict[str, dict] = {}
    for r in rows:
        out.setdefault(r["gid"], {}).update(r)
    return list(out.values())


def entity_tables(raw: dict) -> dict[str, list[dict]]:
    """Flat entity tables as the datom store holds them: one row per gid,
    enum and country values resolved to their idents, columns named like
    the metaschema tables. Absent values are absent keys."""
    def ident(table: str, code):
        return None if code is None else super_ident(table, code)

    def enum(t: str, v):
        return None if v is None else enum_ident(t, v)

    def clean(d: dict) -> dict:
        return {k: v for k, v in d.items() if v is not None}

    artist = [clean({
        "gid": str(a["gid"]), "name": a["name"], "sortName": a["sortname"],
        "type": enum("artist_type", a.get("type")),
        "gender": enum("gender", a.get("gender")),
        "country": ident("countries", a.get("country")),
        "startYear": a.get("begin_date_year"),
    }) for a in raw["artists"]]
    label = [clean({
        "gid": str(lb["gid"]), "name": lb["name"], "sortName": lb["sort_name"],
        "type": enum("label_type", lb.get("type")),
        "country": ident("countries", lb.get("country")),
        "startYear": lb.get("begin_date_year"),
    }) for lb in raw["labels"]]
    abstract_release = [clean({
        "gid": str(r["gid"]), "name": r["name"],
        "type": enum("release_group_type", r.get("type")),
        "artistCredit": r["artist_credit"],
    }) for r in raw["areleases"]]
    release = [clean({
        "gid": str(r["gid"]), "name": r["name"],
        "artistCredit": r.get("artist_credit"),
        "labels_gid": None if "label" not in r else str(r["label"]),
        "abstractRelease_gid": str(r["release_group"]),
        "status": r.get("status"),
        "country": ident("countries", r.get("country")),
        "year": r.get("date_year"),
        "month": r.get("date_month"),
    }) for r in _compact(raw["releases"])]
    return {
        "artist": artist,
        "label": label,
        "abstract_release": abstract_release,
        "release": release,
    }


# column order and Spark type of every entity-table column
TABLE_COLUMNS = {
    "artist": [("gid", "string"), ("name", "string"), ("sortName", "string"),
               ("type", "string"), ("gender", "string"), ("country", "string"),
               ("startYear", "long")],
    "label": [("gid", "string"), ("name", "string"), ("sortName", "string"),
              ("type", "string"), ("country", "string"), ("startYear", "long")],
    "abstract_release": [("gid", "string"), ("name", "string"), ("type", "string"),
                         ("artistCredit", "string")],
    "release": [("gid", "string"), ("name", "string"), ("artistCredit", "string"),
                ("labels_gid", "string"), ("abstractRelease_gid", "string"),
                ("status", "string"), ("country", "string"), ("year", "long"),
                ("month", "long")],
}


def datoms(tables: dict[str, list[dict]]) -> dict[tuple[str, str], str]:
    """The store's (e, a) -> v map, with the datom store's canonical value
    strings (every attribute here is cardinality one)."""
    out = {}
    for table, rows in tables.items():
        for r in rows:
            e = f"{table}:{r['gid']}"
            for col, v in r.items():
                out[(e, f":{table}/{col}")] = str(v)
    return out


QUERIES = {
    "point_lookup": (
        "[:find ?gid :in $ ?name "
        ":where [?a :artist/name ?name] [?a :artist/gid ?gid]]"
    ),
    "ref_join": (
        "[:find ?rgid :in $ ?lname "
        ":where [?l :label/name ?lname] [?l :label/gid ?lg] "
        "[?r :release/labels_gid ?lg] [?r :release/gid ?rgid]]"
    ),
    "filtered_aggregate": (
        "[:find ?c (count ?r) :in $ ?from "
        ":where [?r :release/year ?y] [(>= ?y ?from)] [?r :release/country ?c]]"
    ),
    "unbound_attribute": "[:find ?e ?attr :in $ ?v :where [?e ?attr ?v]]",
}
PULL_SPEC = {
    "name": ":release/name",
    "year": (":release/year", "num"),
    "country": ":release/country",
    "label": ":release/labels_gid",
}
PULL_SIZE = 50
QUERY_DRAWS = 12  # parameter draws per query template


def query_truth(tables: dict[str, list[dict]], seed: int, per_template: int) -> list[dict]:
    """`per_template` parameter draws per query template plus as many
    50-entity pulls, each with its expected answer as sorted rows."""
    rng = random.Random(seed * 7919 + 1)
    artist, label, release = tables["artist"], tables["label"], tables["release"]
    store = datoms(tables)
    by_value: dict[str, list] = {}
    for (e, a), v in store.items():
        by_value.setdefault(v, []).append([e, a])
    out = []
    for _ in range(per_template):
        name = rng.choice(artist)["name"]
        out.append({"template": "point_lookup", "params": [name],
                    "expected": sorted([a["gid"]] for a in artist if a["name"] == name)})
        lb = rng.choice(label)
        out.append({"template": "ref_join", "params": [lb["name"]],
                    "expected": sorted({(r["gid"],) for r in release
                                        if r.get("labels_gid") in
                                        {x["gid"] for x in label if x["name"] == lb["name"]}})})
        year = rng.randint(1950, 2015)
        counts: dict[str, int] = {}
        for r in release:
            if "country" in r and r.get("year", -1) >= year:
                counts[r["country"]] = counts.get(r["country"], 0) + 1
        out.append({"template": "filtered_aggregate", "params": [year],
                    "expected": sorted([c, k] for c, k in counts.items())})
        v = (rng.choice(label)["gid"] if rng.random() < 0.5
             else super_ident("countries", rng.choice(COUNTRIES)))
        out.append({"template": "unbound_attribute", "params": [v],
                    "expected": sorted(by_value.get(v, []))})
        picked = rng.sample(release, PULL_SIZE)
        rows = []
        for r in picked:
            y = r.get("year")
            rows.append([f"release:{r['gid']}", r["name"],
                         None if y is None else float(y),
                         r.get("country"), r.get("labels_gid")])
        out.append({"template": "pull_many", "params": [row[0] for row in rows],
                    "expected": sorted(rows, key=lambda x: x[0])})
    # lists of lists, so JSON round-trips compare equal
    for inst in out:
        inst["expected"] = [list(x) for x in inst["expected"]]
    return out


def import_truth(raw: dict) -> dict:
    rows = {t: len(raw[t]) for t in ENTITY_TYPES}
    n_media = len({m["id"] for m in raw["media"]})
    batches = {t: math.ceil(rows[t] / BATCH_SIZE) for t in ENTITY_TYPES}
    batches["media"] = math.ceil(n_media / BATCH_SIZE)
    return {
        "rows": rows,
        "batches": batches,
        "entity_rows": sum(rows.values()),
        "tables": {
            "artist": len({str(a["gid"]) for a in raw["artists"]}),
            "label": len({str(x["gid"]) for x in raw["labels"]}),
            "abstract_release": len({str(x["gid"]) for x in raw["areleases"]}),
            "release": len({str(x["gid"]) for x in raw["releases"]}),
            "release_artists": len({(x["release"], x["artist"])
                                    for x in raw["releases-artists"]}),
            "arelease_artists": len({(x["release_group"], x["artist"])
                                     for x in raw["areleases-artists"]}),
        },
    }


def write_corpus(basedir: str, seed: int, scale: float) -> tuple[dict, dict]:
    """Write `{basedir}/entities/*.edn` and `{basedir}/truth.json`; return
    the entity tables and the truth."""
    raw = generate(seed, scale)
    ent_dir = os.path.join(basedir, "entities")
    os.makedirs(ent_dir, exist_ok=True)
    for fname, form in _dims().items():
        with open(os.path.join(ent_dir, fname), "w", encoding="utf-8") as fh:
            fh.write(_edn(form) + "\n")
    for t in ENTITY_TYPES:
        with open(os.path.join(ent_dir, f"{t}.edn"), "w", encoding="utf-8") as fh:
            for row in raw[t]:
                fh.write(_entity_line(row) + "\n")
    tables = entity_tables(raw)
    truth = {"seed": seed, "scale": scale, "import": import_truth(raw),
             "queries": query_truth(tables, seed, QUERY_DRAWS)}
    with open(os.path.join(basedir, "truth.json"), "w", encoding="utf-8") as fh:
        json.dump(truth, fh, sort_keys=True, ensure_ascii=False)
    return tables, truth
