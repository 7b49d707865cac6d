"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of ``seed``: the same seed writes byte-identical files, which ``selftest.py``
checks. Nothing is read from outside the output directory.

Two families of inputs:

* ``write_tables`` — the ten TPC-H-ish tables the query registry reads
  (region … embeddings), with the row counts, shapes and value domains of
  the sf0.1 test tables (TESTDATA.md / FIXTURES.md §A): uniform keys, a
  30-word text vocabulary with 5 % copied "dup" documents, unit-norm 64-d
  embeddings.
* ``write_etl_inputs`` — Mongo-export-shaped documents for the Airbnb
  pipeline (FIXTURES.md §B), stored as parquet with the pipeline's
  declared schemas: messy prices, ``{"$date": …}`` extended-JSON dates
  kept as their JSON text, duplicate and NULL ids, NULL text to fill,
  numbers that arrive as strings or garbage.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts of the sf0.1 base (the sf0.1 test tables, TESTDATA.md).
BASE_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "D").astype("int64")


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _day_ts(days: np.ndarray) -> pa.Array:
    return pa.array((_EPOCH_1995 + days) * _DAY_US, type=pa.timestamp("us"))


def _ids(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def base_tables(seed: int) -> dict[str, pa.Table]:
    """The sf0.1 base: ten tables, a pure function of ``seed``."""
    n = BASE_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    r = _rng(seed, 1)
    t["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype="int64"),
        "c_name": _ids("Customer", n["customer"]),
        "c_nationkey": r.integers(0, 25, n["customer"]).astype("int32"),
        "c_acctbal": _money(r, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": _pick(r, SEGMENTS, n["customer"]),
    })
    r = _rng(seed, 2)
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype="int64"),
        "s_name": _ids("Supplier", n["supplier"]),
        "s_nationkey": r.integers(0, 25, n["supplier"]).astype("int32"),
        "s_acctbal": _money(r, -999.99, 9999.99, n["supplier"]),
    })
    r = _rng(seed, 3)
    pk = np.arange(n["part"], dtype="int64")
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": _pick(r, names, n["part"]),
        "p_brand": pa.array(
            [f"Brand#{i}" for i in r.integers(1, 26, n["part"])]
        ),
        "p_type": _pick(r, PART_TYPES, n["part"]),
        "p_size": r.integers(1, 51, n["part"]).astype("int32"),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    r = _rng(seed, 4)
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype="int64"),
        "o_custkey": r.integers(0, n["customer"], no),
        "o_orderstatus": _pick(r, ["F", "O", "P"], no),
        "o_totalprice": _money(r, 1000.0, 500000.0, no),
        "o_orderdate": _day_ts(r.integers(0, 2404, no)),
        "o_orderpriority": _pick(r, PRIORITIES, no),
    })
    r = _rng(seed, 5)
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, no, nl),
        "l_partkey": r.integers(0, n["part"], nl),
        "l_suppkey": r.integers(0, n["supplier"], nl),
        "l_linenumber": r.integers(1, 8, nl).astype("int32"),
        "l_quantity": r.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(r, 900.0, 105000.0, nl),
        "l_discount": r.integers(0, 11, nl) / 100.0,
        "l_tax": r.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(r, ["A", "N", "R"], nl),
        "l_linestatus": _pick(r, ["F", "O"], nl),
        "l_shipdate": _day_ts(r.integers(1, 2499, nl)),
    })
    r = _rng(seed, 6)
    ne = n["events"]
    start_us = np.datetime64("2024-01-01", "us").astype("int64")
    ts = np.sort(start_us + r.integers(0, 30 * _DAY_US, ne))
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype="int64"),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": r.integers(0, 1500, ne),
        "event_type": _pick(r, EVENT_TYPES, ne),
        "value": np.round(r.exponential(50.0, ne), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, ne)]),
    })
    t["documents"] = _documents(_rng(seed, 7), n["documents"])
    r = _rng(seed, 8)
    nv = n["embeddings"]
    emb = r.standard_normal((nv, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype="int64"),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": r.integers(0, 10, nv).astype("int32"),
    })
    return t


def _documents(r: np.random.Generator, nd: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    lengths = r.integers(10, 101, nd)
    words = vocab[r.integers(0, len(vocab), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(nd)]
    # 5 % of documents copy another document and append a marker token:
    # the exact- and near-duplicate structure the dedup queries look for.
    for i in np.flatnonzero(r.random(nd) < 0.05):
        texts[i] = texts[int(r.integers(0, nd))] + " dup"
    return pa.table({
        "doc_id": np.arange(nd, dtype="int64"),
        "text": texts,
        "lang": pa.array(np.asarray(LANGS, dtype=object)[
            r.choice(len(LANGS), nd, p=LANG_P)]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64"),
    })


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write the ten sf0.1 tables as one parquet file each; returns the row
    count of each table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in base_tables(seed).items():
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"),
            compression="snappy", row_group_size=1 << 20,
        )
        rows[name] = table.num_rows
    return rows


#: Rows of the reference's recorded run (README.md:13): 26,401 listings
#: and 1,388,226 reviews, 1,414,627 in all.
ETL_ROWS = {"listings": 26_401, "reviews": 1_388_226}


def etl_rows(share: float) -> dict[str, int]:
    """Rows ``write_etl_inputs`` writes per table with ``share``."""
    return {name: round(n * share) for name, n in ETL_ROWS.items()}


_POSITIVE = ["good", "great", "excellent", "amazing", "perfect", "wonderful",
             "bueno", "excelente", "perfecto", "maravilloso", "goodness"]
_NEGATIVE = ["bad", "terrible", "awful", "poor", "horrible", "malo", "pésimo"]
_FILLER = ["la", "casa", "stay", "host", "place", "very", "muy", "el",
           "apartment", "location", "clean", "limpio", "room", "the", "and"]


def _etl_sql(seed: int, share: float) -> dict[str, str]:
    """DuckDB SELECTs producing the two Mongo-export-shaped inputs, with
    ``share`` of the recorded row counts.

    Every draw is ``hash(row, seed, salt)``, so output is independent of
    DuckDB's thread schedule. Every messy column is a string, as the
    pipeline's schemas declare: a date is a plain string in one document
    and the JSON text of ``{"$date": …}`` in another.
    """
    def u(salt: int, mod: int) -> str:
        return f"(hash(i, {seed}, {salt}) % {mod})::BIGINT"

    rows = etl_rows(share)
    nl, nr = rows["listings"], rows["reviews"]
    numeric = ", ".join(
        f"""CASE WHEN {u(20 + j, 100)} < 3 THEN 'abc'
                 WHEN {u(20 + j, 100)} < 5 THEN ''
                 WHEN {u(20 + j, 100)} < 7 THEN NULL
                 WHEN {u(20 + j, 100)} < 25 THEN ({u(40 + j, 9)})::VARCHAR
                 ELSE ({u(40 + j, 9)} + {1125 if c == 'minimum_nights' else 0}
                       * ({u(60 + j, 1000)} = 0)::INT)::VARCHAR
            END AS {c}"""
        for j, c in enumerate((
            "accommodates", "bedrooms", "beds", "minimum_nights",
            "maximum_nights", "availability_30", "availability_60",
            "availability_90", "availability_365",
        ))
    )
    dates = ", ".join(
        f"""CASE WHEN {u(80 + j, 100)} < 5 THEN NULL
                 WHEN {u(80 + j, 100)} < 8 THEN 'not-a-date'
                 WHEN {u(80 + j, 100)} < 30 THEN json_object('$date',
                      strftime(DATE '2012-01-01' + {u(90 + j, 4900)}::INT,
                               '%Y-%m-%dT00:00:00Z'))::VARCHAR
                 ELSE strftime(DATE '2012-01-01' + {u(90 + j, 4900)}::INT,
                               '%Y-%m-%d')
            END AS {c}"""
        for j, c in enumerate(
            ("host_since", "calendar_last_scraped", "last_scraped"))
    )
    truthy = "['t', 'f', 'true', 'True', '1', 'yes', 'si', 'SI ', ' t ', 'no']"
    bools = ", ".join(
        f"""CASE WHEN {u(100 + j, 20)} = 0 THEN NULL
                 WHEN {u(100 + j, 20)} = 1 THEN 'true'
                 WHEN {u(100 + j, 20)} = 2 THEN 'false'
                 ELSE {truthy}[1 + {u(110 + j, 10)}]
            END AS {c}"""
        for j, c in enumerate(
            ("host_is_superhost", "host_identity_verified", "has_availability"))
    )
    amenities = [
        '["Wifi", "Fast wifi – 400 Mbps", "Kitchen"]',
        '["Air conditioning", "TV", "Pool"]',
        '["Kitchen", "Washer", "Free parking on premises"]',
        "WiFi", "", "nan", "[unclosed",
        '["Hot water", "Essentials", "Wifi", "Air conditioning"]',
    ]
    amen = "[" + ", ".join("'" + a.replace("'", "''") + "'" for a in amenities) + "]"
    listings = f"""
    SELECT printf('%024x', (hash(i, {seed}, 1) % 1000000000000)::BIGINT) AS _id,
           CASE WHEN {u(2, 100)} = 0 THEN NULL
                WHEN {u(2, 100)} = 1 THEN ({u(3, nl)})::BIGINT
                ELSE i END AS id,
           CASE WHEN {u(4, 20)} = 0 THEN NULL
                ELSE '  Casa ' || i::VARCHAR || ' ' END AS name,
           CASE WHEN {u(5, 20)} = 0 THEN NULL
                ELSE 'Departamento luminoso ' || {u(6, 500)}::VARCHAR END
                AS description,
           CASE WHEN {u(7, 100)} < 2 THEN NULL
                WHEN {u(7, 100)} < 47 THEN 'Cuauhtémoc'
                ELSE 'Colonia ' || {u(8, 60)}::VARCHAR END
                AS neighbourhood_cleansed,
           CASE WHEN {u(9, 100)} = 0 THEN NULL
                ELSE 19.2 + {u(10, 40000)} / 100000.0 END AS latitude,
           CASE WHEN {u(11, 100)} = 0 THEN NULL
                ELSE -99.3 + {u(12, 40000)} / 100000.0 END AS longitude,
           ['Apartment', 'House', 'Condominium', 'Loft', 'Other',
            'Entire rental unit', 'Private room in home'][1 + {u(13, 7)}]
                AS property_type,
           ['Entire home/apt', 'Private room', 'Shared room', 'Hotel room',
            NULL][1 + {u(14, 5)}] AS room_type,
           {numeric},
           CASE WHEN {u(15, 25)} = 0 THEN NULL
                ELSE {amen}[1 + {u(16, 8)}] END AS amenities,
           CASE WHEN {u(17, 40)} = 0 THEN NULL
                WHEN {u(17, 40)} = 1 THEN 'N/A'
                WHEN {u(17, 40)} = 2 THEN ''
                WHEN {u(17, 40)} = 3 THEN ['500', '1000', '2000', '5000']
                                          [1 + {u(18, 4)}]
                WHEN {u(17, 40)} < 10 THEN ({u(19, 9000)} + 100)::VARCHAR
                ELSE '$' || format('{{:,}}', {u(19, 9000)} + 100) || '.00'
           END AS price,
           {dates},
           {bools},
           CASE WHEN {u(120, 8)} = 0 THEN NULL
                ELSE 3.0 + {u(121, 21)} / 10.0 END AS review_scores_rating,
           CASE WHEN {u(122, 8)} = 0 THEN NULL
                ELSE {u(123, 500)} / 100.0 END AS reviews_per_month
    FROM range({nl}) t(i)
    """
    pos = "[" + ", ".join(f"'{w}'" for w in _POSITIVE) + "]"
    neg = "[" + ", ".join(f"'{w}'" for w in _NEGATIVE) + "]"
    fil = "[" + ", ".join(f"'{w}'" for w in _FILLER) + "]"
    reviews = f"""
    SELECT printf('%024x', (hash(i, {seed}, 201) % 1000000000000)::BIGINT) AS _id,
           CASE WHEN {u(202, 200)} = 0 THEN NULL
                WHEN {u(202, 200)} = 1 THEN ({u(203, nr)})::BIGINT
                ELSE i END AS id,
           CASE WHEN {u(204, 200)} = 0 THEN NULL
                WHEN {u(204, 10)} = 1 THEN 1000000 + {u(205, 1000)}
                ELSE {u(206, nl)} END AS listing_id,
           CASE WHEN {u(207, 100)} < 2 THEN NULL
                WHEN {u(207, 100)} < 7 THEN json_object('$date',
                     strftime(DATE '2011-04-02' + {u(208, 5200)}::INT,
                              '%Y-%m-%dT00:00:00Z'))::VARCHAR
                ELSE strftime(DATE '2011-04-02' + {u(208, 5200)}::INT, '%Y-%m-%d')
           END AS date,
           {u(209, 900000)} AS reviewer_id,
           CASE WHEN {u(210, 30)} = 0 THEN NULL
                ELSE ['john SMITH', 'o''brien', 'MARÍA lópez', 'ana',
                      'José Luis', 'li WEI', 'jean-paul'][1 + {u(211, 7)}]
                     || ' ' || {u(212, 100)}::VARCHAR END AS reviewer_name,
           CASE WHEN {u(213, 25)} = 0 THEN NULL
                ELSE {fil}[1 + {u(214, 15)}] || ' '
                     || CASE WHEN {u(215, 3)} = 0 THEN upper({pos}[1 + {u(216, 11)}])
                             ELSE {pos}[1 + {u(216, 11)}] END || ' '
                     || {fil}[1 + {u(217, 15)}] || ' '
                     || CASE WHEN {u(218, 4)} = 0 THEN {neg}[1 + {u(219, 7)}]
                             WHEN {u(218, 4)} = 1 THEN 'terrible and horrible'
                             ELSE {fil}[1 + {u(220, 15)}] END || ' '
                     || repeat('muy ', {u(221, 12)}::INT)
                     || {fil}[1 + {u(222, 15)}] END AS comments
    FROM range({nr}) t(i)
    """
    return {"listings": listings, "reviews": reviews}


def write_etl_inputs(out_dir: str, seed: int, share: float = 1.0,
                     threads: int = 4) -> dict[str, str]:
    """Write ``listings.parquet`` and ``reviews.parquet`` with ``share`` of
    the recorded row counts; returns their paths keyed by table name."""
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {threads}")
        con.execute("SET enable_progress_bar = false")
        con.execute(f"SET temp_directory = '{os.path.join(out_dir, '.tmp')}'")
        paths = {}
        for name, sql in _etl_sql(seed, share).items():
            path = os.path.join(out_dir, f"{name}.parquet")
            con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
            paths[name] = path
        return paths
    finally:
        con.close()


def digest(paths: list[str]) -> str:
    """SHA-256 over the bytes of ``paths`` in order (determinism check)."""
    h = hashlib.sha256()
    for path in paths:
        with open(path, "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()
