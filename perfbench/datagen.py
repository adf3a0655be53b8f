"""Seeded input generators for the benchmark.

Two input sets, both a pure function of ``seed``:

* ``write_documents``: the ``documents`` table the ``catalog_iterative``
  queries read, as parquet, with the column types and value domains of the
  project's synthetic test table: 500 documents over a 30-word vocabulary,
  ~5% of them near-duplicates of an earlier one (same text plus a token).
* ``write_portal_inputs``: the survey, contacts and EuroSea CSVs of the portal
  ETL at the reference's row counts (371/243/367), reproducing its published
  outputs for every seed (627 programs from 256 merged EuroSea groups, 218
  users, 372 programs without spatial data), with the dirty cells FIXTURES.md lists (blank and
  ``NA`` cells, accents and punctuation in names, slug collisions within and
  across sources, >58-character names, multi-line GeoJSON, the ``"null"``
  sentinel, mixed-geometry collections, trailing-space and junk coordinates,
  unmapped frequency strings). It also returns the counts the pipeline must
  reproduce, derived from the generated rows rather than from the pipeline.

Only numpy, pyarrow and the standard library are used, so inputs are written
without Spark.
"""

from __future__ import annotations

import csv
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOCUMENTS = 500
_WORDS = (
    "a the data query table row column join hash scan filter sort group agg "
    "window spark stream batch key value part line order customer vector "
    "merge fast slow big small"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]


def documents(seed: int) -> pa.Table:
    """The seed draws the words. The shape that sets how many rounds the
    catalog loops run is drawn from a fixed stream, the same for every seed:
    each document's language and character length, and which documents
    near-duplicate which. ``gr6_dup_components`` links documents by a shared
    100-character prefix or by equal (language, length), so every seed
    yields the same duplicate graph and the same loop depth."""
    shape = np.random.default_rng(0)
    words = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        length = int(shape.integers(40, 560))
        if i > 20 and shape.random() < 0.05:
            # near-duplicate of an earlier document: same text plus a token
            texts.append(texts[int(shape.integers(0, i))] + " dup")
        else:
            text = " ".join(words.choice(_WORDS, length))[:length]
            # keep the drawn length: a cut on a space ends in a word instead
            texts.append(text[:-1] + "a" if text.endswith(" ") else text)
    langs = shape.choice(_LANGS, N_DOCUMENTS, p=_LANG_P)
    return pa.table(
        {
            "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_documents(out_dir: str, seed: int) -> None:
    """Write ``{out_dir}/documents.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(documents(seed), os.path.join(out_dir, "documents.parquet"))


# --------------------------------------------------------------------------
# Portal ETL inputs
# --------------------------------------------------------------------------

N_SURVEY, N_CONTACTS, N_EUROSEA = 371, 243, 367
# the reference run's published counts (FIXTURES.md): 371 survey + 256 merged
# EuroSea = 627 programs, 218 distinct users, 372 without spatial data.
# Every seed reproduces them exactly; only the draws behind them vary.
N_EUROSEA_GROUPS, N_USERS, N_WITHOUT_SPATIAL = 256, 218, 372
N_PROGRAMS = N_SURVEY + N_EUROSEA_GROUPS
_N_SURVEY_DISTINCT = 300  # the other 71 survey rows repeat a name
_N_GHOSTS = 10  # contacts whose program is not in the survey
_N_NO_EMAIL = 8  # survey-matched contacts with a blank or NA email
_N_EUROSEA_NULL = 11  # EuroSea rows without a name: dropped

_NAME_WORDS = (
    "Coastal Ocean Reef Benthic Plankton Seabird Marine Mammal Kelp Seagrass "
    "Mangrove Coral Pelagic Acoustic Fisheries Estuary Shelf Atlantic Pacific "
    "Arctic Baltic Tropical Deep Sea Turtle Monitoring Survey Network Program "
    "Observatory Time-Series Census Watch"
).split()
_DIRTY = ["Réseau", "Estación", "Ø", "(Pilot)", "– Phase II", "& Partners", "\"Blue\"", "O'Neill", "A/B", "St.", ";Legacy"]
_FREQS_SURVEY = [
    "Sub-daily", "Daily", "Monthly (12x per year)", "Quarterly (4x per year)",
    "2x per year", "1x per year", "1x every 2 to 5 years", "1x every 6-10 years",
    "1x every >10 years", "Opportunistically/highly irregular intervals", "NA",
    "sometimes-ish",
]
_EUROSEA_FREQS = [
    "2 x a week since 2005", "Annual (Sept)", "Continually", "Once in 3 years",
    "8-10x month", "Biannual", "Monthly", "Daily", "Varies", "weekly",
    "every blue moon", "NA",
]
_IN_OBIS = [
    "Yes, all data.", "Yes, some data.", "No.", "Planned.", "Unknown.", "NA",
]
SURVEY_EOVS = [
    "Birds", "Hard_Coral", "Fish", "Macroalgae", "Mangroves", "Microbes",
    "Ocean_Sound", "Phytoplankton", "Seagrass", "Sea_Turtles", "Zooplankton",
    "Benthic_Invertebrate", "Marine_Mammals",
]
EUROSEA_EOVS = [
    "Microbes", "Birds", "Hard coral", "Fish", "Macroalgae", "Mangrove",
    "Phytoplankton", "Seagrass", "Turtles", "Zooplankton",
    "Benthic invertebrates", "Mammals",
]
# the Django EOV fixture order (FIXTURES.md F10); every name is an engine column
EOV_ORDER = [
    "eov_phytoplankton", "eov_zooplankton", "eov_fish", "eov_seaturtles",
    "eov_birds", "eov_mammals", "eov_hardcoral", "eov_seagrass",
    "eov_macroalgae", "eov_mangroves", "eov_microbes", "eov_benthicinvertebrates",
]
_SURVEY_EOV_COL = {
    "Birds": "eov_birds", "Hard_Coral": "eov_hardcoral", "Fish": "eov_fish",
    "Macroalgae": "eov_macroalgae", "Mangroves": "eov_mangroves",
    "Microbes": "eov_microbes", "Ocean_Sound": "eov_oceansound",
    "Phytoplankton": "eov_phytoplankton", "Seagrass": "eov_seagrass",
    "Sea_Turtles": "eov_seaturtles", "Zooplankton": "eov_zooplankton",
    "Benthic_Invertebrate": "eov_benthicinvertebrates",
    "Marine_Mammals": "eov_mammals",
}
_EUROSEA_EOV_COL = {
    "Birds": "eov_birds", "Hard coral": "eov_hardcoral", "Fish": "eov_fish",
    "Macroalgae": "eov_macroalgae", "Mangrove": "eov_mangroves",
    "Microbes": "eov_microbes", "Phytoplankton": "eov_phytoplankton",
    "Seagrass": "eov_seagrass", "Turtles": "eov_seaturtles",
    "Zooplankton": "eov_zooplankton",
    "Benthic invertebrates": "eov_benthicinvertebrates", "Mammals": "eov_mammals",
}


def _program_name(r: random.Random, i: int) -> str:
    words = r.sample(_NAME_WORDS, r.randint(2, 5))
    if r.random() < 0.25:
        words.insert(r.randint(0, len(words)), r.choice(_DIRTY))
    if r.random() < 0.06:
        words += r.sample(_NAME_WORDS, 8)  # > 58 chars: the shorten path
    return " ".join(words) + f" {i}"


def _ring(r: random.Random) -> list[list[float]]:
    x, y = r.uniform(-170, 160), r.uniform(-70, 70)
    d = r.uniform(0.1, 5.0)
    return [[round(x, 4), round(y, 4)], [round(x + d, 4), round(y, 4)],
            [round(x + d, 4), round(y + d, 4)], [round(x, 4), round(y, 4)]]


def _feature(geom: dict) -> dict:
    return {"type": "Feature", "properties": {}, "geometry": geom}


def _geojson(r: random.Random) -> tuple[str, bool]:
    """A contacts GeoJSON cell and whether it exports a homogeneous layer."""
    u = r.random()
    if u < 0.30:
        return "NA", False
    if u < 0.40:
        return "null", False
    if u < 0.50:  # mixed geometry types: skipped by the layer rule
        feats = [
            _feature({"type": "Polygon", "coordinates": [_ring(r)]}),
            _feature({"type": "Point", "coordinates": _ring(r)[0]}),
        ]
        return json.dumps({"type": "FeatureCollection", "features": feats}, indent=1), False
    n = r.randint(1, 4)
    if u < 0.75:
        feats = [_feature({"type": "Polygon", "coordinates": [_ring(r)]}) for _ in range(n)]
    else:
        feats = [_feature({"type": "Point", "coordinates": _ring(r)[0]}) for _ in range(n)]
    # indent=1 spreads the cell over many physical lines (multiLine CSV)
    return json.dumps({"type": "FeatureCollection", "features": feats}, indent=1), True


def _coords(r: random.Random, valid: bool) -> tuple[str, str]:
    """A EuroSea (lat, lon) pair; an invalid pair has a missing or junk side."""
    lat, lon = f"{r.uniform(-60, 75):.6f}", f"{r.uniform(-170, 170):.6f}"
    if valid:
        return (lat + " " if r.random() < 0.1 else lat), lon  # trailing space: trimmed
    bad = r.choice(["NA", "", "058;29.422'"])  # degree-minute junk -> null
    return r.choice([(bad, lon), (lat, bad), (bad, bad)])


def _is_number(s: str) -> bool:
    try:
        float(s.strip())
    except ValueError:
        return False
    return True


def portal_inputs(seed: int) -> tuple[dict[str, list[list[str]]], dict[str, int]]:
    """The three portal CSVs as row lists, and the counts the pipeline must
    reproduce from them, derived from the rows. The counts equal the
    reference run's for every seed: the generator fixes how many survey
    names repeat, how many contacts share an email and how many EuroSea
    groups have a valid point; the seed draws which ones."""
    r = random.Random(seed)
    pool = [_program_name(r, i) for i in range(520)]
    # case/accent variants that collide after slugify (make_unique suffixes)
    for i in range(0, 60, 3):
        pool[i + 1] = pool[i].upper()
    distinct = r.sample(pool[:450], _N_SURVEY_DISTINCT)
    survey_names = distinct + [r.choice(distinct) for _ in range(N_SURVEY - len(distinct))]
    r.shuffle(survey_names)

    # contacts: N_USERS people, some answering for more than one program
    matched = r.sample(distinct, N_CONTACTS - _N_GHOSTS)
    people = [f"person{k}@example.org" for k in r.sample(range(1000), N_USERS)]
    emails = people + [r.choice(people) for _ in range(len(matched) - _N_NO_EMAIL - N_USERS)]
    r.shuffle(emails)
    emails += [r.choice(["", "NA"]) for _ in range(_N_NO_EMAIL)]
    contact_rows = list(zip(matched, emails))
    # programs absent from the survey: their contacts join nothing
    contact_rows += [(f"Ghost Program {i}", f"ghost{i}@example.org") for i in range(_N_GHOSTS)]
    r.shuffle(contact_rows)
    contacts = [["prog_name", "resp_firstname", "resp_lastname", "resp_email",
                 "ErinSpatialGeoJSON", "resp_org", "notes"]]
    contact_email: dict[str, str | None] = {}
    contact_layer: dict[str, bool] = {}
    for name, email in contact_rows:
        gj, layer = _geojson(r)
        contacts.append([
            name, r.choice(["Ann", "Bo", "", "NA", "Chloé"]), r.choice(["Lee", "Ka", ""]),
            email, gj, "org", "ignored",
        ])
        contact_email[name] = email if email not in ("", "NA") else None
        contact_layer[name] = layer

    noise = [f"Noise{i}" for i in range(30)]
    survey = [["prog_name", "prog_abbrev", "prog_url", "duration_start_year",
               "duration_end_year", "freq_interval", *SURVEY_EOVS, "In_OBIS",
               "Interest_OBIS", *noise]]
    assoc = 0
    users: set[str] = set()
    layered = 0
    for name in survey_names:
        flags = [r.choice(["NA", "NA", "", "Yes", "present", "x"]) for _ in SURVEY_EOVS]
        assoc += sum(
            1 for c, v in zip(SURVEY_EOVS, flags)
            if v not in ("", "NA") and _SURVEY_EOV_COL[c] in EOV_ORDER
        )
        if contact_email.get(name):
            users.add(contact_email[name])
        layered += contact_layer.get(name, False)
        url = r.choice(["NA", "https://example.org/p", "https://example.org/" + "p/" * 120])
        survey.append([
            name, name[:4].upper(), url, r.choice([str(r.randint(1950, 2020)), "NA"]),
            r.choice([str(r.randint(1990, 2023)), "active", "NA", "0"]),
            r.choice(_FREQS_SURVEY), *flags, r.choice(_IN_OBIS),
            r.choice(["Yes", "No", "NA"]), *[str(r.randint(0, 9)) for _ in noise],
        ])

    # EuroSea: N_EUROSEA_GROUPS (organisation, name) groups, one row each plus
    # extra rows (more locations of a program) and nameless rows. The groups
    # with a valid point make up the layers the survey rows leave to reach
    # N_WITHOUT_SPATIAL programs without spatial data.
    orgs = [f"Organisation {i}" for i in range(70)]
    keys: list[tuple[str, str]] = []
    while len(keys) < N_EUROSEA_GROUPS:
        # a tenth reuse a survey name: cross-source duplicate names
        name = r.choice(distinct) if r.random() < 0.1 else r.choice(pool[300:])
        key = (r.choice(orgs), name)
        if key not in keys:
            keys.append(key)
    n_with_point = N_PROGRAMS - N_WITHOUT_SPATIAL - layered
    if not 0 <= n_with_point <= N_EUROSEA_GROUPS:
        raise ValueError(f"seed {seed}: {layered} survey layers leave no valid EuroSea share")
    with_point = set(r.sample(range(N_EUROSEA_GROUPS), n_with_point))
    # (group or None for a nameless row, whether the row's point is valid)
    plan: list[tuple[int | None, bool]] = [(g, g in with_point) for g in range(N_EUROSEA_GROUPS)]
    for _ in range(N_EUROSEA - N_EUROSEA_GROUPS - _N_EUROSEA_NULL):
        g = r.randrange(N_EUROSEA_GROUPS)
        plan.append((g, g in with_point and r.random() < 0.7))
    plan += [(None, r.random() < 0.7) for _ in range(_N_EUROSEA_NULL)]
    r.shuffle(plan)

    eurosea = [["Country", "Organisation", "Program name", "Programs/Location",
                "Time period", "Frequency", *EUROSEA_EOVS, "Lat", "Lon", "Website"]]
    groups: dict[tuple[str, str], dict] = {}
    for g, valid in plan:
        # a nameless row is dropped by the null-name filter
        org, name = keys[g] if g is not None else (r.choice(orgs), r.choice(["", "NA"]))
        flags = [r.choice(["x", "x ", "NA", "", "y"]) for _ in EUROSEA_EOVS]
        lat, lon = _coords(r, valid)
        eurosea.append([
            r.choice(["NL", "ES", "FR", "NO"]), org, name, "coast",
            r.choice(["1979-current", "2009-2018", "2015-current", "2012", "NA"]),
            r.choice(_EUROSEA_FREQS), *flags, lat, lon,
            r.choice(["NA", "https://a.example.org", "https://b.example.org/" + "q" * 300]),
        ])
        if name in ("", "NA"):
            continue
        grp = groups.setdefault((org, name), {"eov": set(), "points": False})
        grp["eov"].update(
            _EUROSEA_EOV_COL[c] for c, v in zip(EUROSEA_EOVS, flags) if v.strip() == "x"
        )
        grp["points"] = grp["points"] or (_is_number(lat) and _is_number(lon))

    assoc += sum(len(g["eov"] & set(EOV_ORDER)) for g in groups.values())
    layered += sum(g["points"] for g in groups.values())
    in_obis = survey[0].index("In_OBIS")
    expected = {
        "programs": N_SURVEY + len(groups),
        "users": len(users),
        "eov_associations": assoc,
        "layers": layered,
        "in_obis_statements": sum(row[in_obis] != "NA" for row in survey[1:]),
    }
    return {"contacts": contacts, "survey": survey, "eurosea": eurosea}, expected


def write_portal_inputs(out_dir: str, seed: int) -> dict[str, int]:
    """Write ``contacts.csv``, ``survey.csv`` and ``eurosea.csv``; return the
    expected counts."""
    os.makedirs(out_dir, exist_ok=True)
    tables, expected = portal_inputs(seed)
    for name, rows in tables.items():
        with open(os.path.join(out_dir, f"{name}.csv"), "w", newline="") as f:
            csv.writer(f, quoting=csv.QUOTE_MINIMAL).writerows(rows)
    return expected

