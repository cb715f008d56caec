"""Seeded input generators for the lakehouse benchmark.

Every generator is a pure function of its seed and size: the same
arguments give byte-identical files. The program under test only ever
sees these files, never the seed.

- ``medallion_drop``: the death-metal CSV drop (bands, albums, reviews)
  with the reference's quirks at fixed rates and Zipf-like skew of
  reviews per album and albums per band.
- ``increment_chunk``: one reviews chunk for the incremental path, with
  a fixed share of corrupt lines.
- ``star_schema``: the TPC-H-like tables plus events, documents and
  embeddings that the catalog queries read, with the column shapes and
  value domains of the catalog's test tables.
- ``query_passes``: the seeded order of the query mix.

Generated inputs are cached on disk by kind, seed and size
(``cached``), so repeated runs with one seed skip generation.
"""

from __future__ import annotations

import csv
import io
import json
import os
import shutil

import numpy as np

# Bumped whenever a generator's output changes, so stale caches are
# never reused.
GEN_VERSION = 1

COUNTRIES = [
    "Sweden", "Norway", "Finland", "Brazil", "brazil", " Brasil ",
    "United States", "Germany", "Poland", "United Kingdom", "Canada",
    "Netherlands", "France", "Japan",
]
GENRES = ["Death Metal", "Doom/Death", "Tech Death", "Old School Death Metal", "Brutal Death"]
THEMES = ["Death", "Gore", "War", "Occult", "Philosophy", "Misanthropy"]
ACTIVES = ["1990-present", "1987-1993, 1997-", "1995-2005", "unknown", "2001-present"]
STATUSES = ["Active", "Active", "Split-up", "On hold", "Changed name"]
WORDS = (
    "brutal riff crushing blast beat guttural vocals production album track "
    "solo heavy dark raw old school classic tight sloppy drums bass guitar "
    "evil grim atmosphere song tremolo doom slow fast chaotic technical "
    "memorable forgettable essential mediocre masterpiece"
).split()

BANDS_HEADER = [" Id ", "Name", "COUNTRY", "Genre", "Theme", "Status", "Formed In", "Active"]
ALBUMS_HEADER = ["id", "title", "band", "year"]
REVIEWS_HEADER = ["id", "album", "title", "score", "content"]

# Quirk rates of the medallion drop (shares of generated rows).
NONE_NAME_RATE = 0.02
NA_FORMED_RATE = 0.05
BLANK_YEAR_RATE = 0.05
COMMA_TITLE_RATE = 0.2
ORPHAN_RATE = 0.01
NONE_TITLE_RATE = 0.03
PIPE_RATE = 0.25
HEADER_ROW_RATE = 0.001
DUP_RATE = 0.01
ZIPF_S = 1.1

CORRUPT_RATE = 0.02


def _zipf_choice(rng: np.random.Generator, n: int, size: int) -> np.ndarray:
    """Indices in [0, n) with P(k) ~ 1/(k+1)^ZIPF_S over a shuffled
    ranking, so hot keys are spread over the id space."""
    p = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    p /= p.sum()
    ranked = rng.choice(n, size=size, p=p)
    return rng.permutation(n)[ranked]


def _texts(rng: np.random.Generator, n: int, lo: int, hi: int, pipe_rate: float) -> list[str]:
    lengths = rng.integers(lo, hi + 1, size=n)
    words = rng.integers(0, len(WORDS), size=int(lengths.sum()))
    pipes = rng.random(n) < pipe_rate
    out, pos = [], 0
    for i, k in enumerate(lengths):
        toks = [WORDS[w] for w in words[pos : pos + k]]
        pos += k
        if pipes[i]:
            toks[k // 2] += "|"
            toks[-1] += "|"
        out.append(" ".join(toks))
    return out


def _write_csv(path: str, header: list[str], rows: list[list]) -> int:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(header)
    w.writerows(rows)
    data = buf.getvalue().encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def medallion_drop(out_dir: str, seed: int, n_bands: int) -> dict:
    """Write ``bands.csv``, ``albums.csv`` and ``reviews.csv`` (5 albums
    and 20 reviews per band) into ``out_dir``; return the manifest the
    correctness checks use."""
    rng = np.random.default_rng([seed, 1])
    n_albums, n_reviews = 5 * n_bands, 20 * n_bands
    os.makedirs(out_dir, exist_ok=True)

    country = rng.choice(len(COUNTRIES), size=n_bands)
    genre = rng.integers(0, len(GENRES), size=n_bands)
    theme = rng.integers(0, len(THEMES), size=n_bands)
    status = rng.integers(0, len(STATUSES), size=n_bands)
    active = rng.integers(0, len(ACTIVES), size=n_bands)
    formed = rng.integers(1980, 2015, size=n_bands)
    none_name = rng.random(n_bands) < NONE_NAME_RATE
    na_formed = rng.random(n_bands) < NA_FORMED_RATE
    bands = [
        [
            i + 1,
            "None" if none_name[i] else f"Band {i + 1}",
            COUNTRIES[country[i]],
            GENRES[genre[i]],
            THEMES[theme[i]],
            STATUSES[status[i]],
            "N/A" if na_formed[i] else str(formed[i]),
            ACTIVES[active[i]],
        ]
        for i in range(n_bands)
    ]

    band_of = _zipf_choice(rng, n_bands, n_albums) + 1
    orphan = rng.random(n_albums) < ORPHAN_RATE
    band_of[orphan] = n_bands + 1 + rng.integers(0, 50, size=int(orphan.sum()))
    year = rng.integers(1985, 2024, size=n_albums)
    blank_year = rng.random(n_albums) < BLANK_YEAR_RATE
    comma = rng.random(n_albums) < COMMA_TITLE_RATE
    albums = [
        [
            i + 1,
            f"Album {i + 1}, Part {i % 3}" if comma[i] else f"Album {i + 1}",
            int(band_of[i]),
            "" if blank_year[i] else str(year[i]),
        ]
        for i in range(n_albums)
    ]

    album_of = _zipf_choice(rng, n_albums, n_reviews) + 1
    orphan = rng.random(n_reviews) < ORPHAN_RATE
    album_of[orphan] = n_albums + 1 + rng.integers(0, 50, size=int(orphan.sum()))
    score = np.round(rng.uniform(0, 100, size=n_reviews), 2)
    none_title = rng.random(n_reviews) < NONE_TITLE_RATE
    content = _texts(rng, n_reviews, 20, 90, PIPE_RATE)
    reviews = [
        [
            i + 1,
            int(album_of[i]),
            "None" if none_title[i] else f"Review {i + 1}",
            f"{score[i]:.2f}",
            content[i],
        ]
        for i in range(n_reviews)
    ]
    dup = rng.random(n_reviews) < DUP_RATE
    header_row = rng.random(n_reviews) < HEADER_ROW_RATE
    rows: list[list] = []
    for i, row in enumerate(reviews):
        if header_row[i]:
            rows.append(list(REVIEWS_HEADER))
        rows.append(row)
        if dup[i]:
            rows.append(list(row))

    nbytes = (
        _write_csv(os.path.join(out_dir, "bands.csv"), BANDS_HEADER, bands)
        + _write_csv(os.path.join(out_dir, "albums.csv"), ALBUMS_HEADER, albums)
        + _write_csv(os.path.join(out_dir, "reviews.csv"), REVIEWS_HEADER, rows)
    )
    return {
        "source_rows": n_bands + n_albums + len(rows),
        "source_bytes": nbytes,
        "bands": n_bands,
        "albums": n_albums,
        "distinct_reviews": n_reviews,
        "duplicate_rows": int(dup.sum()),
        "header_rows": int(header_row.sum()),
    }


def increment_chunk(seed: int, cycle: int, first_id: int, n_rows: int, n_albums: int) -> tuple[str, list[int]]:
    """One reviews chunk as CSV text plus the ids of its valid rows.

    Valid ids run from ``first_id`` up; a ``CORRUPT_RATE`` share of
    lines is malformed (too few fields) and must land in the error
    sink, not in bronze."""
    rng = np.random.default_rng([seed, 2, cycle])
    album = rng.integers(1, n_albums + 1, size=n_rows)
    score = np.round(rng.uniform(0, 100, size=n_rows), 2)
    content = _texts(rng, n_rows, 20, 90, PIPE_RATE)
    corrupt = rng.random(n_rows) < CORRUPT_RATE
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(REVIEWS_HEADER)
    ids = []
    for i in range(n_rows):
        rid = first_id + i
        if corrupt[i]:
            buf.write(f"{rid},{album[i]}\n")
            continue
        ids.append(rid)
        w.writerow([rid, int(album[i]), f"Review {rid}", f"{score[i]:.2f}", content[i]])
    return buf.getvalue(), ids


# --- star schema -----------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["widget", "gear", "bolt", "ring", "rod", "plate", "gizmo", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
DOC_WORDS = (
    "a the join hash row batch scan customer column filter small slow merge "
    "order vector line data table agg value key stream window spark group "
    "part big sort query fast"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> np.ndarray:
    return np.datetime64(start, "us") + rng.integers(0, n_days, size=n).astype("timedelta64[D]")


def star_schema(out_dir: str, seed: int, sf: float) -> dict:
    """Write one parquet file per catalog table at scale ``sf`` (sf 1 is
    6M lineitem rows, the catalog test tables' scaling); return row
    counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_events = int(1_500_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs = int(50_000 * sf), int(50_000 * sf)
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, size=n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, size=n_cust)],
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, size=n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, size=n_part)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, size=n_part)],
            "p_size": rng.integers(1, 51, size=n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    orderdate = _days(rng, "1995-01-01", 2404, n_ord)
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, size=n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, size=n_ord)],
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": orderdate,
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, size=n_ord)],
        }
    )
    lines_per = rng.integers(1, 8, size=n_ord)
    n_li = int(lines_per.sum())
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    l_lineno = (np.arange(n_li) - np.repeat(np.cumsum(lines_per) - lines_per, lines_per) + 1)
    shuffle = rng.permutation(n_li)
    qty = rng.integers(1, 51, size=n_li).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": rng.integers(0, n_part, size=n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, size=n_li).astype(np.int64),
            "l_linenumber": l_lineno.astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, size=n_li), 2),
            "l_discount": rng.integers(0, 11, size=n_li) / 100.0,
            "l_tax": rng.integers(0, 9, size=n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, size=n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, size=n_li)],
            "l_shipdate": np.repeat(orderdate, lines_per)
            + rng.integers(1, 122, size=n_li).astype("timedelta64[D]"),
        }
    ).take(pa.array(shuffle))

    ts = np.sort(
        np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * 86_400_000_000, size=n_events).astype("timedelta64[us]")
    )
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, max(n_events // 66, 1), size=n_events).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, size=n_events)],
            "value": np.round(rng.uniform(0.01, 490.0, size=n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_events)],
        }
    )

    lengths = rng.integers(8, 90, size=n_docs)
    words = rng.integers(0, len(DOC_WORDS), size=int(lengths.sum()))
    texts, pos = [], 0
    for k in lengths:
        texts.append(" ".join(DOC_WORDS[w] for w in words[pos : pos + k]))
        pos += k
    # ~5% near-duplicates: an earlier document plus a suffix token.
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    lang_p = np.array([0.44, 0.14, 0.14, 0.14, 0.14])
    tables["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, size=n_docs, p=lang_p)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )

    labels = rng.integers(0, 10, size=n_vecs)
    centroids = rng.normal(0, 0.1, size=(10, 64))
    emb = (centroids[labels] + rng.normal(0, 0.08, size=(n_vecs, 64))).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": labels.astype(np.int32),
        }
    )

    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# --- query order -------------------------------------------------------------

# One pass of the query mix: 14 relational (70%), 3 events (15%) and 3
# curation (15%) queries. The four interactive relational queries run
# twice per pass to reach the 70% share.
QUERY_PASS = [
    "flagship_multijoin",
    "g1_top10_customers_per_nation",
    "g2_customer_order_stats",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_regional_revenue",
    "tpch_q6_forecast_revenue",
    "tpch_q10_returned_items",
    "tpch_q21_waiting_supplier",
    "window_running_total",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q6_forecast_revenue",
    "g2_customer_order_stats",
    "events_sessionization_30min",
    "events_tumbling_5min",
    "events_trailing_zscore",
    "text_quality_scores",
    "dedup_minhash_lsh",
    "similarity_bruteforce_topk",
]


def query_passes(seed: int, n_passes: int) -> list[list[str]]:
    """``n_passes`` seeded permutations of ``QUERY_PASS``."""
    rng = np.random.default_rng([seed, 4])
    return [[QUERY_PASS[i] for i in rng.permutation(len(QUERY_PASS))] for _ in range(n_passes)]


# --- cache -------------------------------------------------------------------

_GENERATORS = {"medallion": medallion_drop, "star": star_schema}


def cached(cache_root: str, kind: str, seed: int, size) -> tuple[str, dict]:
    """Directory holding the ``kind`` inputs for (seed, size), generated
    on first use; returns it with the generator's manifest."""
    d = os.path.join(cache_root, f"{kind}-v{GEN_VERSION}-s{seed}-{size}")
    manifest = os.path.join(d, "_manifest.json")
    if not os.path.exists(manifest):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        info = _GENERATORS[kind](tmp, seed, size)
        with open(os.path.join(tmp, "_manifest.json"), "w") as f:
            json.dump(info, f)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    with open(manifest) as f:
        return d, json.load(f)
