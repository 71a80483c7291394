"""Seeded benchmark inputs, written with numpy + pyarrow (no Spark).

Two input families, both a pure function of ``seed`` and size:

- ``write_staging_feed``: the pipe-delimited SFPD incident feed that
  ``plans.pipeline.run_pipeline`` loads, with the null rates and
  cardinalities of FIXTURES.md §1. ``testing.synthetic_staging`` hashes
  fixed seeds, so it cannot vary with the benchmark seed; this
  generator follows the same table instead.
- ``write_corpus_tables``: the ``documents`` and ``embeddings`` tables
  of the repository's synthetic test data (TESTDATA.md), in the shape that
  data has: a 30-word vocabulary, 10-100 words per document, about 5%
  near-duplicates (an earlier document plus the token ``dup``), and
  unit-norm 64-d vectors with ten labels.

The feed writer returns the counts the refresh's output checks compare
against, taken from the generated arrays rather than through the
program under test.
"""

from __future__ import annotations

import datetime
import os
from dataclasses import dataclass, replace

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMB_DIM = 64

_DISTRICTS = [
    "Bayview", "Central", "Ingleside", "Mission", "Northern", "Park",
    "Richmond", "Southern", "Taraval", "Tenderloin", "Out of SF",
]
_RESOLUTIONS = ["Open or Active", "Cite or Arrest Adult", "Unfounded", "Exceptional Adult"]
_REPORT_TYPES = [
    ("II", "Initial"),
    ("IS", "Initial Supplement"),
    ("VI", "Vehicle Initial"),
    ("VS", "Vehicle Supplement"),
    ("CI", "Coplogic Initial"),
]
#: report types the serve query keeps (plans/fact.py:serve_initial_reports)
SERVED_CODES = ("II", "VI", "CI")
_CODE_INDEX = {code: k for k, (code, _) in enumerate(_REPORT_TYPES)}
_DAY0 = datetime.date(2018, 1, 1)
#: incidents fall in 2018-01-01..2023-12-31 (FIXTURES.md §1)
_SPAN_S = (datetime.date(2024, 1, 1) - _DAY0).days * 86_400


@dataclass(frozen=True)
class FeedFacts:
    """What the refresh's outputs must agree with (FIXTURES.md §4)."""

    rows: int
    null_location_rows: int  # NULL Analysis Neighborhood: no LocationID match
    null_incident_rows: int  # NULL category or subcategory: no IncidentID match
    served_rows: int  # rows the inner-joined serve query keeps
    bytes: int


def _nullify(rng: np.random.Generator, arr: pa.Array, pct: float) -> pa.Array:
    return pc.if_else(pa.array(rng.random(len(arr)) < pct / 100), None, arr)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(values).take(pa.array(rng.integers(0, len(values), n)))


def _lookup(fmt, keys: range) -> pa.Array:
    return pa.array([fmt(k) for k in keys])


def _day(k: int) -> datetime.date:
    return _DAY0 + datetime.timedelta(days=k)


def _clock(k: int, twelve: bool) -> str:
    h, m, s = k // 3600, k // 60 % 60, k % 60
    if not twelve:  # "H:mm:ss", hour not zero-padded (FIXTURES.md §1)
        return f"{h}:{m:02d}:{s:02d}"
    return f"{(h % 12) or 12:02d}:{m:02d}:{s:02d} {'AM' if h < 12 else 'PM'}"


def _sfpd_datetimes(secs: np.ndarray, days: pa.Array, clock12: pa.Array) -> pa.Array:
    """``yyyy/MM/dd hh:mm:ss a`` (sources/csv.py:SFPD_TIMESTAMP_FORMAT)."""
    return pc.binary_join_element_wise(
        days.take(pa.array(secs // 86_400)), clock12.take(pa.array(secs % 86_400)), " "
    )


def staging_table(seed: int, n_rows: int) -> tuple[pa.Table, FeedFacts]:
    """One seeded staging feed as an Arrow table, plus its expected counts.

    Calendar and clock strings come from per-day and per-second lookup
    tables, so generation stays vectorized at any row count."""
    rng = np.random.default_rng([seed, 1])
    n = n_rows
    incident = rng.integers(0, _SPAN_S, n)  # seconds since 2018-01-01
    report = incident + rng.integers(0, 72 * 3600, n)
    n_days = int(report.max()) // 86_400 + 1
    iso_days = _lookup(lambda k: _day(k).isoformat(), range(n_days))
    sfpd_days = _lookup(lambda k: _day(k).strftime("%Y/%m/%d"), range(n_days))
    clock12 = _lookup(lambda k: _clock(k, True), range(86_400))
    clock24 = _lookup(lambda k: _clock(k, False), range(86_400))
    inc_day = pa.array(incident // 86_400)
    rt = rng.integers(0, len(_REPORT_TYPES), n)
    category_ids = rng.integers(0, 50, n)
    category = _nullify(
        rng, _lookup(lambda k: f"Category {k}", range(50)).take(pa.array(category_ids)), 2
    )
    # ~70 subcategories, each tied to one category
    sub_ids = (category_ids * 7 + rng.integers(0, 2, n)) % 70
    subcategory = _nullify(
        rng, _lookup(lambda k: f"Subcategory {k}", range(70)).take(pa.array(sub_ids)), 2
    )
    neighborhood = _nullify(rng, _pick(rng, [f"Neighborhood {k}" for k in range(41)], n), 8)
    lat = pa.array(np.round(37.70 + rng.random(n) * 0.13, 6))
    lon = pa.array(np.round(-122.51 + rng.random(n) * 0.15, 6))
    geo_null = pa.array(rng.random(n) < 0.05)
    point = pc.binary_join_element_wise(
        "POINT (", pc.cast(lon, pa.string()), " ", pc.cast(lat, pa.string()), ")", ""
    )
    streets = _lookup(lambda k: f"{k % 50}TH ST \\ {k // 50}TH AVE", range(2000))
    ids = rng.permutation(n) + 10_000_000 * (1 + seed % 97)
    cols = {
        "Incident Datetime": _sfpd_datetimes(incident, sfpd_days, clock12),
        "Incident Date": iso_days.take(inc_day),
        "Incident Time": clock24.take(pa.array(incident % 86_400)),
        "Incident Year": _lookup(lambda k: _day(k).year, range(n_days)).take(inc_day),
        "Incident Day of Week": _lookup(lambda k: _day(k).strftime("%A"), range(n_days)).take(
            inc_day
        ),
        "Report Datetime": _sfpd_datetimes(report, sfpd_days, clock12),
        "Row ID": pa.array(ids.astype(np.int64)),
        "Incident ID": pa.array(ids.astype(np.int32)),
        "Incident Number": pa.array(rng.integers(100_000_000, 999_999_999, n)),
        "CAD Number": _nullify(rng, pa.array(rng.integers(10_000_000, 99_999_999, n).astype(np.int32)), 15),
        "Report Type Code": _lookup(lambda k: _REPORT_TYPES[k][0], range(5)).take(pa.array(rt)),
        "Report Type Description": _lookup(lambda k: _REPORT_TYPES[k][1], range(5)).take(
            pa.array(rt)
        ),
        # true for Coplogic (online) reports, NULL otherwise: 80% NULL, and
        # one DimReportType row per (type, code), so the J7 join on those
        # two keys cannot fan out (FIXTURES.md §4)
        "Filed Online": pc.if_else(pa.array(rt == _CODE_INDEX["CI"]), True, None),
        "Incident Code": pa.array(rng.integers(10_000, 99_999, n).astype(np.int32)),
        "Incident Category": category,
        "Incident Subcategory": subcategory,
        "Incident Description": _pick(rng, [f"Description {k}" for k in range(400)], n),
        "Resolution": _pick(rng, _RESOLUTIONS, n),
        "Intersection": _nullify(rng, streets.take(pa.array(rng.integers(0, 2000, n))), 5),
        "CNN": _nullify(rng, pa.array(rng.integers(10_000_000, 99_999_999, n)), 5),
        "Police District": _pick(rng, _DISTRICTS, n),
        "Analysis Neighborhood": neighborhood,
        "Supervisor District": _nullify(rng, pa.array(rng.integers(1, 12, n).astype(np.int32)), 8),
        "Latitude": pc.if_else(geo_null, None, lat),
        "Longitude": pc.if_else(geo_null, None, lon),
        "Point": pc.if_else(geo_null, None, point),
        "Neighborhoods": _nullify(rng, pa.array(rng.integers(1, 118, n).astype(np.int32)), 10),
        "ESNCAG - Boundary File": _nullify(rng, pa.array(np.ones(n, np.int16)), 95),
        "Central Market/Tenderloin Boundary Polygon - Updated": _nullify(
            rng, pa.array(np.ones(n, np.int16)), 90
        ),
        "Civic Center Harm Reduction Project Boundary": _nullify(
            rng, pa.array(np.ones(n, np.int16)), 92
        ),
        "HSOC Zones as of 2018-06-05": _nullify(
            rng, pa.array(rng.integers(1, 6, n).astype(np.int16)), 85
        ),
        "Invest In Neighborhoods (IIN) Areas": _nullify(rng, pa.array(np.ones(n, np.int16)), 95),
        "Current Supervisor Districts": _nullify(
            rng, pa.array(rng.integers(1, 12, n).astype(np.int16)), 5
        ),
        "Current Police Districts": _nullify(
            rng, pa.array(rng.integers(1, 11, n).astype(np.int16)), 5
        ),
    }
    table = pa.table(cols)
    no_loc = pc.is_null(neighborhood)
    no_inc = pc.or_(pc.is_null(category), pc.is_null(subcategory))
    served = pc.and_(
        pa.array(np.isin(rt, [_CODE_INDEX[c] for c in SERVED_CODES])),
        pc.invert(pc.or_(no_loc, no_inc)),
    )
    facts = FeedFacts(
        rows=n,
        null_location_rows=pc.sum(no_loc).as_py(),
        null_incident_rows=pc.sum(no_inc).as_py(),
        served_rows=pc.sum(served).as_py(),
        bytes=0,
    )
    return table, facts


def write_staging_feed(path: str, seed: int, n_rows: int) -> FeedFacts:
    """Write the feed as one pipe-delimited CSV file under directory ``path``."""
    table, facts = staging_table(seed, n_rows)
    os.makedirs(path)
    out = os.path.join(path, "part-00000.csv")
    pacsv.write_csv(
        table,
        out,
        write_options=pacsv.WriteOptions(delimiter="|", quoting_style="none"),
    )
    return replace(facts, bytes=os.path.getsize(out))


def write_corpus_tables(path: str, seed: int, n_docs: int, n_vecs: int) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet`` under ``path``."""
    rng = np.random.default_rng([seed, 2])
    texts: list[str] = []
    for i in range(n_docs):
        if i and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    os.makedirs(path)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
                "text": pa.array(texts),
                "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
                "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(path, "documents.parquet"),
    )
    vecs = rng.standard_normal((n_vecs, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
            }
        ),
        os.path.join(path, "embeddings.parquet"),
    )


def link_copy(src: str, dst: str) -> None:
    """A fresh directory holding the same bytes as ``src`` (hard links).

    Every timed call reads its own path, so no cache keyed on the input
    path can carry a result from one call to the next."""
    os.makedirs(dst)
    for name in sorted(os.listdir(src)):
        os.link(os.path.join(src, name), os.path.join(dst, name))
