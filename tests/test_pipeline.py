"""Golden pipeline test (SURVEY.md §5.3.4, FIXTURES.md B).

Airbnb-shaped synthetic fixtures exercising every messy-value domain in
FIXTURES.md B.1–B.3, run through the full E-T-L; asserts the recorded
invariants of FIXTURES.md B.4: derived-column names, drop accounting,
bucket boundary semantics, and the duplicate-lexicon sentiment rule.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Row

from etl_airbnb_mex_spark.plans.transforms import (
    transform_calendar,
    transform_listings,
    transform_reviews,
)

LISTING_DEFAULTS = dict(
    _id="0fa1",
    id=1,
    name=" Casa Azul ",
    description="Nice place",
    neighbourhood_cleansed="Cuauhtémoc",
    latitude=19.4,
    longitude=-99.1,
    property_type="Apartment",
    room_type="Entire home/apt",
    accommodates="2",
    bedrooms="1",
    beds="1",
    minimum_nights="2",
    maximum_nights="30",
    availability_30="10",
    availability_60="20",
    availability_90="30",
    availability_365="100",
    amenities='["Wifi", "Kitchen"]',
    price="$1,234.00",
    host_since="2019-05-04",
    calendar_last_scraped="2025-10-01",
    last_scraped='{"$date": "2025-10-02T00:00:00Z"}',
    host_is_superhost="t",
    host_identity_verified="f",
    has_availability="SI ",
    review_scores_rating=4.8,
    reviews_per_month=1.2,
)


def make_listing(**over):
    return Row(**{**LISTING_DEFAULTS, **over})


REVIEW_DEFAULTS = dict(
    _id="ra01",
    id=1,
    listing_id=1,
    date="2024-06-15",
    reviewer_id=7,
    reviewer_name="john SMITH",
    comments="A good stay",
)


def make_review(**over):
    return Row(**{**REVIEW_DEFAULTS, **over})


#: FIXTURES.md B.4 derived-name invariants.
LISTING_DERIVED = (
    ["price_clean", "categoria_precio"]
    + [f"{c}_clean" for c in ("host_since", "calendar_last_scraped", "last_scraped")]
    + ["amenities_procesados"]
    + [
        "amenity_wifi", "amenity_kitchen", "amenity_air_conditioning",
        "amenity_heating", "amenity_tv", "amenity_washer", "amenity_dryer",
        "amenity_pool", "amenity_gym", "amenity_parking",
    ]
    + ["room_type_normalizado", "property_type_normalizado"]
    + [f"{c}_bin" for c in ("host_is_superhost", "host_identity_verified", "has_availability")]
    + [
        f"{c}_clean"
        for c in (
            "accommodates", "bedrooms", "beds", "minimum_nights",
            "maximum_nights", "availability_30", "availability_60",
            "availability_90", "availability_365",
        )
    ]
    + [f"{c}_clean" for c in ("name", "description", "neighbourhood_cleansed")]
)

REVIEW_DERIVED = [
    "date_clean", "año", "mes", "dia", "trimestre", "dia_semana",
    "nombre_mes", "comments_clean", "comments_length", "sentiment_score",
    "reviewer_name_clean",
]


@pytest.fixture(scope="module")
def listings_df(spark):
    rows = [
        make_listing(id=1),
        # duplicate id → keep-first (D1)
        make_listing(id=1, name="DUP should drop"),
        # critical nulls → dropped (P2)
        make_listing(id=None),
        make_listing(id=3, latitude=None),
        # messy price domain incl. exact bucket boundaries (F1/F9)
        make_listing(id=10, price="$500.00"),
        make_listing(id=11, price="500.01"),
        make_listing(id=12, price="$1,000.00"),
        make_listing(id=13, price="2000"),
        make_listing(id=14, price="$5,000.00"),
        make_listing(id=15, price="$5,000.01"),
        make_listing(id=16, price=None),       # NULL→0.0→'Económico' trap
        make_listing(id=17, price="N/A"),      # unparseable→0.0
        make_listing(id=18, price=""),
        # amenities fallbacks (F19-F21)
        make_listing(id=20, amenities='["Fast wifi – 400 Mbps", "Air conditioning unit"]'),
        make_listing(id=21, amenities="WiFi"),
        make_listing(id=22, amenities=""),
        make_listing(id=23, amenities="nan"),
        make_listing(id=24, amenities=None),
        make_listing(id=25, amenities="[unclosed"),
        # category maps (F10)
        make_listing(id=30, room_type=None, property_type="Entire rental unit"),
        # booleans (F11)
        make_listing(id=31, host_is_superhost=" True ", host_identity_verified="si", has_availability=None),
        make_listing(id=32, host_is_superhost="0", host_identity_verified="YES", has_availability="1"),
        # numeric coercion (F14)
        make_listing(id=33, accommodates="abc", bedrooms="", beds=None, minimum_nights="1125"),
        # date handling (F15/F18) incl. $date struct and junk
        make_listing(id=34, host_since='{"$date": "2019-05-04T12:00:00Z"}',
                     calendar_last_scraped="not-a-date", last_scraped=None),
        # text fill (F8)
        make_listing(id=35, name=None, description="  padded  ", neighbourhood_cleansed=None),
    ]
    return spark.createDataFrame(rows)


@pytest.fixture(scope="module")
def listings_out(listings_df):
    df = transform_listings(listings_df)
    rows = {r["id"]: r for r in df.collect()}
    return df, rows


def test_listings_derived_columns(listings_out, listings_df):
    df, _ = listings_out
    assert [c for c in df.columns if c not in listings_df.columns] == LISTING_DERIVED
    # width invariant: 28 input cols + 33 derived (B.4)
    assert len(df.columns) == len(listings_df.columns) + 33


def test_listings_drop_accounting(listings_out, listings_df):
    _, rows = listings_out
    # 25 input rows − 1 NULL id − 1 NULL latitude − 1 duplicate id = 22
    assert len(rows) == 22
    assert rows[1]["name"] == " Casa Azul "  # keep-FIRST, not the dup


def test_price_buckets_exact_boundaries(listings_out):
    _, r = listings_out
    got = {k: (r[k]["price_clean"], r[k]["categoria_precio"]) for k in
           (10, 11, 12, 13, 14, 15, 16, 17, 18, 1)}
    assert got[10] == (500.0, "Económico")       # <=500 inclusive
    assert got[11] == (500.01, "Medio")
    assert got[12] == (1000.0, "Medio")
    assert got[13] == (2000.0, "Medio-Alto")
    assert got[14] == (5000.0, "Alto")
    assert got[15] == (5000.01, "Premium")
    assert got[16] == (0.0, "Económico")         # NULL→0→Económico trap
    assert got[17] == (0.0, "Económico")
    assert got[18] == (0.0, "Económico")
    assert got[1] == (1234.0, "Medio-Alto")


def test_amenities_flags_and_fallbacks(listings_out):
    _, r = listings_out
    assert r[1]["amenities_procesados"] == ["Wifi", "Kitchen"]
    assert (r[1]["amenity_wifi"], r[1]["amenity_kitchen"]) == (1, 1)
    # unicode punctuation cleaned; substring containment flags
    assert r[20]["amenities_procesados"] == ["Fast wifi  400 Mbps", "Air conditioning unit"]
    assert r[20]["amenity_wifi"] == 1 and r[20]["amenity_air_conditioning"] == 1
    assert r[21]["amenities_procesados"] == ["WiFi"]  # bare string
    for k in (22, 23, 24, 25):  # ''/'nan'/NULL/malformed → empty
        assert r[k]["amenities_procesados"] == []
        assert r[k]["amenity_wifi"] == 0


def test_category_maps(listings_out):
    _, r = listings_out
    assert r[1]["room_type_normalizado"] == "Casa/Departamento completo"
    assert r[1]["property_type_normalizado"] == "Departamento"
    assert r[30]["room_type_normalizado"] == "No especificado"   # NULL
    assert r[30]["property_type_normalizado"] == "Entire rental unit"  # passthrough


def test_boolean_encoding(listings_out):
    _, r = listings_out
    assert (r[1]["host_is_superhost_bin"], r[1]["host_identity_verified_bin"],
            r[1]["has_availability_bin"]) == (1, 0, 1)  # 't','f','SI '
    assert (r[31]["host_is_superhost_bin"], r[31]["host_identity_verified_bin"],
            r[31]["has_availability_bin"]) == (1, 1, 0)  # ' True ','si',NULL
    assert (r[32]["host_is_superhost_bin"], r[32]["host_identity_verified_bin"],
            r[32]["has_availability_bin"]) == (0, 1, 1)  # '0','YES'→?,'1'
    # NB 'YES' IS in the truthy set ('yes'); '0' is not.


def test_numeric_coercion(listings_out):
    _, r = listings_out
    assert (r[33]["accommodates_clean"], r[33]["bedrooms_clean"],
            r[33]["beds_clean"], r[33]["minimum_nights_clean"]) == (0.0, 0.0, 0.0, 1125.0)


def test_date_normalization(listings_out):
    _, r = listings_out
    assert r[1]["host_since_clean"] == "2019-05-04"
    assert r[1]["last_scraped_clean"] == "2025-10-02"  # $date unwrap
    assert r[34]["host_since_clean"] == "2019-05-04"   # $date with time
    assert r[34]["calendar_last_scraped_clean"] is None  # junk → NULL
    assert r[34]["last_scraped_clean"] is None


def test_text_fill(listings_out):
    _, r = listings_out
    assert r[35]["name_clean"] == "No especificado"
    assert r[35]["description_clean"] == "padded"
    assert r[1]["name_clean"] == "Casa Azul"


@pytest.fixture(scope="module")
def reviews_out(spark):
    rows = [
        make_review(id=1, date="2024-06-15", comments="A good stay"),
        make_review(id=1, comments="dup drops"),
        make_review(id=None),
        make_review(id=3, listing_id=None),
        # Monday check: 2024-06-17 is a Monday → dia_semana 0
        make_review(id=10, date="2024-06-17"),
        make_review(id=11, date='{"$date": "2011-04-02T00:00:00Z"}'),
        make_review(id=12, date=None),
        # duplicate-lexicon rule: good(+1) − (terrible×2 + horrible×2) = −3
        make_review(id=20, comments="good but terrible, horrible place"),
        make_review(id=21, comments="GOODNESS gracious"),  # containment
        make_review(id=22, comments=None),                 # → 'nan', len 3
        make_review(id=23, reviewer_name="o'brien", comments="excelente y maravilloso"),
        make_review(id=24, reviewer_name=None),
    ]
    df = transform_reviews(spark.createDataFrame(rows))
    return df, {r["id"]: r for r in df.collect()}


def test_reviews_derived_columns(reviews_out, spark):
    df, rows = reviews_out
    assert [c for c in df.columns if c not in REVIEW_DEFAULTS] == REVIEW_DERIVED
    assert len(df.columns) == 7 + 11
    assert len(rows) == 9  # 12 − null id − null listing_id − dup


def test_reviews_dates(reviews_out):
    _, r = reviews_out
    assert r[1]["date_clean"] == "2024-06-15"
    assert (r[1]["año"], r[1]["mes"], r[1]["dia"], r[1]["trimestre"]) == (2024, 6, 15, 2)
    assert r[10]["dia_semana"] == 0          # Monday=0 (pandas convention)
    assert r[1]["nombre_mes"] == "June"
    assert r[11]["date_clean"] == "2011-04-02"
    assert r[12]["date_clean"] is None


def test_reviews_sentiment(reviews_out):
    _, r = reviews_out
    assert r[1]["sentiment_score"] == 1
    assert r[20]["sentiment_score"] == -3    # duplicate lexicon ×2
    assert r[21]["sentiment_score"] == 1     # 'goodness' contains 'good'
    assert r[22]["sentiment_score"] == 0
    assert r[23]["sentiment_score"] == 2


def test_reviews_text_compat(reviews_out):
    _, r = reviews_out
    assert r[22]["comments_clean"] == "nan"
    assert r[22]["comments_length"] == 3     # astype(str) NULL→'nan' trap
    assert r[1]["reviewer_name_clean"] == "John Smith"
    assert r[24]["reviewer_name_clean"] is None


def test_calendar_transform(spark):
    rows = [
        Row(listing_id=1, date="2025-01-01", available="t", price="$100.00"),
        Row(listing_id=1, date="2025-01-02", available="f", price="200"),
        Row(listing_id=1, date="2025-01-03", available="maybe", price=None),
        Row(listing_id=None, date="2025-01-04", available="t", price="1"),
        Row(listing_id=2, date=None, available="t", price="1"),
    ]
    df = transform_calendar(spark.createDataFrame(rows))
    got = {(r["listing_id"], r["date"]): r for r in df.collect()}
    assert len(got) == 3
    assert got[(1, "2025-01-01")]["available_bin"] == 1
    assert got[(1, "2025-01-02")]["available_bin"] == 0
    assert got[(1, "2025-01-03")]["available_bin"] == 0  # else→0
    assert got[(1, "2025-01-01")]["price_clean"] == 100.0
    assert got[(1, "2025-01-03")]["price_clean"] == 0.0


def test_full_pipeline_run(spark, tmp_path_factory):
    """E-T-L end-to-end: write fixture parquet → run_pipeline → verify
    report counts, sink schemas (no _id, arrays stringified), and the
    missing-calendar path (the reference's recorded run, log:31)."""
    from etl_airbnb_mex_spark.plans.pipeline import run_pipeline

    tmp = tmp_path_factory.mktemp("etl")
    lst = [make_listing(id=i) for i in range(1, 9)] + [make_listing(id=None)]
    rev = [make_review(id=i, listing_id=1 + i % 3) for i in range(1, 21)]
    spark.createDataFrame(lst).write.parquet(str(tmp / "listings_raw"))
    spark.createDataFrame(rev).write.parquet(str(tmp / "reviews_raw"))

    report = run_pipeline(
        spark,
        {"listings": str(tmp / "listings_raw"), "reviews": str(tmp / "reviews_raw")},
        str(tmp / "out"),
        report_path=str(tmp / "reporte.json"),
    )
    assert report["tablas"]["listings"]["extraidos"] == 9
    assert report["tablas"]["listings"]["cargados"] == 8   # NULL id dropped
    assert report["tablas"]["reviews"]["cargados"] == 20
    assert report["tablas"]["calendar"]["cargados"] == 0   # absent source
    assert report["total_registros"] == 28

    out = spark.read.parquet(str(tmp / "out" / "raw_listings_transformado"))
    assert "_id" not in out.columns                         # S8
    assert dict(out.dtypes)["amenities_procesados"] == "string"  # S9
    assert json.loads((tmp / "reporte.json").read_text())["total_registros"] == 28


def test_pipeline_reports_action_metrics(spark, tmp_path_factory):
    """S12 + §3.1.f — the run report carries per-action metrics: one
    timed load per written table, whose row count is the one the write
    observed (the extract and verify counts ride on that write)."""
    from etl_airbnb_mex_spark.plans.pipeline import run_pipeline

    tmp = tmp_path_factory.mktemp("etl_metrics")
    spark.createDataFrame(
        [make_review(id=i) for i in range(1, 6)]
    ).write.parquet(str(tmp / "reviews_raw"))
    report = run_pipeline(
        spark, {"reviews": str(tmp / "reviews_raw")}, str(tmp / "out")
    )
    actions = {a["accion"]: a for a in report["acciones"]}
    assert list(actions) == ["carga_reviews"]
    assert actions["carga_reviews"]["filas"] == 5
    assert report["tablas"]["reviews"]["extraidos"] == 5
    assert all(a["duracion_ms"] >= 0 for a in report["acciones"])


def _write_inputs(spark, tmp, tables: dict) -> dict[str, str]:
    """Write each ``name -> rows`` as a parquet input with the declared
    reader schema; returns the pipeline's ``input_paths``."""
    from etl_airbnb_mex_spark.sources.readers import AIRBNB_SCHEMAS

    paths = {}
    for name, rows in tables.items():
        paths[name] = str(tmp / f"{name}_raw")
        schema = AIRBNB_SCHEMAS[name]
        spark.createDataFrame(
            [tuple(r[f] for f in schema.fieldNames()) for r in rows], schema
        ).write.parquet(paths[name])
    return paths


def _parity_case(case: str):
    """(inputs, run_pipeline keyword arguments) of one parity case."""
    reviews = [make_review(id=i, listing_id=1 + i % 3,
                           date=f"20{20 + i % 3}-06-15") for i in range(1, 21)]
    if case == "plain":
        return {"listings": [make_listing(id=i) for i in range(1, 9)],
                "reviews": reviews}, {}
    if case == "limit":
        return {"reviews": reviews}, {"limit": 7}
    if case == "partitioned":
        return {"reviews": reviews}, {"partition_spec": {"reviews": ("año",)}}
    if case == "dup_null_ids":
        return {
            "listings": [make_listing(id=i % 4) for i in range(10)]
            + [make_listing(id=None), make_listing(id=None)],
            "reviews": reviews + reviews[:5] + [make_review(id=None)] * 3,
        }, {}
    if case == "empty_input":
        return {"reviews": []}, {}
    raise ValueError(case)


@pytest.mark.parametrize(
    "case", ["plain", "limit", "partitioned", "dup_null_ids", "empty_input"]
)
def test_observed_counts_match_eager_counts(spark, tmp_path_factory, case):
    """The counts ``run_pipeline`` observes during the write equal the
    eager counts they replace: ``extraidos`` = ``raw.count()`` of the
    (limited) input, ``cargados`` = ``spark.read.parquet(out).count()``.

    Retry caveat, not exercised here: the load counter sits in the
    write's result stage, so each task is counted once, but the extract
    counter sits below the dedup shuffle, so a map task re-run after a
    fetch failure adds its rows to ``extraidos`` again."""
    from etl_airbnb_mex_spark.plans.pipeline import run_pipeline
    from etl_airbnb_mex_spark.plans.transforms import TRANSFORMS
    from etl_airbnb_mex_spark.sources.readers import (
        AIRBNB_SCHEMAS,
        read_parquet,
    )
    from etl_airbnb_mex_spark.sources.writers import (
        drop_id_columns,
        normalize_for_sink,
    )

    tmp = tmp_path_factory.mktemp(f"etl_parity_{case}")
    tables, kwargs = _parity_case(case)
    paths = _write_inputs(spark, tmp, tables)
    report = run_pipeline(spark, paths, str(tmp / "out"), **kwargs)

    for name, path in paths.items():
        got = report["tablas"][name]
        raw = read_parquet(spark, path, AIRBNB_SCHEMAS[name])
        if "limit" in kwargs:
            raw = raw.limit(kwargs["limit"])
        out = spark.read.parquet(got["ruta"])
        assert got["extraidos"] == raw.count()
        assert got["cargados"] == got["transformados"] == out.count()
        if case == "empty_input":
            assert got["extraidos"] == got["cargados"] == 0
            empty = spark.createDataFrame([], AIRBNB_SCHEMAS[name])
            sink = normalize_for_sink(drop_id_columns(TRANSFORMS[name](empty)))
            assert [(f.name, f.dataType) for f in out.schema] == [
                (f.name, f.dataType) for f in sink.schema
            ]
    if case == "limit":
        assert report["tablas"]["reviews"]["extraidos"] == 7
    if case == "dup_null_ids":
        # 12 rows − 2 NULL ids − 6 duplicates of ids 0..3 = 4 listings
        assert report["tablas"]["listings"]["cargados"] == 4
        assert report["tablas"]["reviews"]["cargados"] == 20


def test_pipeline_runs_one_write_per_table(spark, tmp_path_factory):
    """Job-count guard: a present table costs its write's jobs (at most
    a shuffle-map job and the write job), an absent one costs none. A
    count of jobs, so machine load cannot move it; an eager count or
    verify re-read slipping back in would fail it."""
    from etl_airbnb_mex_spark.plans.pipeline import run_pipeline

    tmp = tmp_path_factory.mktemp("etl_jobs")
    paths = _write_inputs(spark, tmp, {
        "listings": [make_listing(id=i) for i in range(1, 9)],
        "reviews": [make_review(id=i) for i in range(1, 21)],
    })
    sc = spark.sparkContext

    def jobs_of(group: str, inputs: dict) -> list[int]:
        sc.setJobGroup(group, group)
        try:
            run_pipeline(spark, inputs, str(tmp / group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return list(sc.statusTracker().getJobIdsForGroup(group))

    # calendar absent: two present tables, at most two jobs each
    assert 0 < len(jobs_of("etl_jobs_present", paths)) <= 2 * 2
    # every table absent: no Spark job at all
    assert jobs_of("etl_jobs_absent", {}) == []


def test_quality_report_on_transformed_reviews(reviews_out):
    """Regression: null_profile must handle non-identifier column names
    — transform_reviews emits 'año', which crashed the unquoted stack()
    SQL (code-review finding)."""
    from etl_airbnb_mex_spark.plans.quality import quality_report

    df, _ = reviews_out
    rows = quality_report(df).collect()
    names = {r["column_name"] for r in rows}
    assert "año" in names
    assert all(r["completeness_pct"] <= 100.0 for r in rows)


def test_cli_end_to_end(spark, tmp_path_factory):
    """§3.1 CLI parity: config + flags, --limite cap, JSON summary line,
    exit code 0 (in-process main(); the driver smoke covers module
    import)."""
    from etl_airbnb_mex_spark.cli import main

    tmp = tmp_path_factory.mktemp("cli")
    spark.createDataFrame(
        [make_review(id=i) for i in range(1, 31)]
    ).write.parquet(str(tmp / "reviews_raw"))
    cfg = tmp / "etl.json"
    cfg.write_text(json.dumps({
        "entradas": {"reviews": str(tmp / "reviews_raw")},
        "salida": str(tmp / "out"),
        "limite": 10,
        "reporte": str(tmp / "reporte.json"),
    }))
    rc = main(["--config", str(cfg)])
    assert rc == 0
    report = json.loads((tmp / "reporte.json").read_text())
    assert report["tablas"]["reviews"]["extraidos"] == 10   # --limite cap
    assert report["total_registros"] == 10

    rc_bad = main(["--salida", str(tmp / "out2")])
    assert rc_bad == 1  # no inputs -> error exit, like the reference


def test_transforms_on_empty_inputs(spark):
    """Robustness: every transform analyzes and executes on an EMPTY
    frame with the declared schema (the reference's missing-collection
    path) — same derived columns, zero rows."""
    from etl_airbnb_mex_spark.plans.transforms import TRANSFORMS
    from etl_airbnb_mex_spark.sources.readers import AIRBNB_SCHEMAS

    for name, fn in TRANSFORMS.items():
        empty = spark.createDataFrame([], AIRBNB_SCHEMAS[name])
        out = fn(empty)
        assert out.count() == 0
        assert len(out.columns) > len(empty.columns)


def test_catalog_helpers(spark, sf_dir):
    from etl_airbnb_mex_spark.tables import (
        catalog_tables,
        register_views,
        table_exists,
    )

    register_views(spark, sf_dir)
    names = catalog_tables(spark)
    assert "orders" in names and "documents" in names
    assert table_exists(spark, "lineitem")
    assert not table_exists(spark, "no_such_collection")
    assert spark.sql("SELECT count(*) AS n FROM orders").collect()[0]["n"] > 0


def test_pipeline_partitioned_write(spark, tmp_path_factory):
    """partition_spec routes through to the sink: reviews partitioned by
    año produce year directories (partition pruning for readers)."""
    import os

    from etl_airbnb_mex_spark.plans.pipeline import run_pipeline

    tmp = tmp_path_factory.mktemp("etl_part")
    spark.createDataFrame(
        [make_review(id=i, date=f"20{20 + i % 3}-06-15") for i in range(1, 16)]
    ).write.parquet(str(tmp / "reviews_raw"))
    report = run_pipeline(
        spark,
        {"reviews": str(tmp / "reviews_raw")},
        str(tmp / "out"),
        partition_spec={"reviews": ("año",)},
    )
    assert report["tablas"]["reviews"]["cargados"] == 15
    out_dir = str(tmp / "out" / "raw_reviews_transformado")
    years = [d for d in os.listdir(out_dir) if d.startswith("año=")]
    assert len(years) == 3


def test_corpus_pipeline_end_to_end(spark, sf_dir):
    """The composed hygiene chain: stage counts monotone non-increasing,
    survivors carry no exact duplicate texts, PII is scrubbed, and every
    survivor clears the quality gates."""
    from pyspark.sql import functions as F

    from etl_airbnb_mex_spark.plans.corpus import (
        corpus_pipeline,
        corpus_pipeline_report,
    )
    from etl_airbnb_mex_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    eval_set = d.filter(F.col("doc_id") % 97 == 0)

    report = corpus_pipeline_report(corpus, eval_set)
    vals = list(report.values())
    assert vals == sorted(vals, reverse=True), report
    cleaned = corpus_pipeline(corpus, eval_set)
    rows = cleaned.collect()
    assert len(rows) == vals[-1]
    texts = [r["clean_text"] for r in rows]
    assert len(set(texts)) == len(texts), "exact dups survived"
    assert all(r["n_tokens"] >= 5 for r in rows)
    assert not any("@" in t for t in texts if t)


def test_corpus_pipeline_scrubs_planted_pii(spark):
    from etl_airbnb_mex_spark.plans.corpus import corpus_pipeline

    docs = spark.createDataFrame(
        [
            (1, "contact me at bob@example.com for the data set please"),
            (2, "server at 10.1.2.3 answered with the records we need"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["clean_text"]
           for r in corpus_pipeline(docs, min_tokens=3).collect()}
    assert "<EMAIL>" in got[1] and "@" not in got[1]
    assert "<IP>" in got[2] and "10.1.2.3" not in got[2]


def test_local_cpus_defaults_to_machine_cores(monkeypatch):
    """Without ``$SPARK_GRAFT_CPUS`` a local session gets one task slot
    per core the machine reports, not a fixed 32."""
    import os

    from etl_airbnb_mex_spark.session import local_cpus

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cpus() == (os.cpu_count() or 1)
    monkeypatch.setattr(os, "cpu_count", lambda: 3)
    assert local_cpus() == 3
    monkeypatch.setattr(os, "cpu_count", lambda: None)
    assert local_cpus() == 1
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert local_cpus() == 6


def test_shj_threshold_formula_matches_shipped_conf():
    """The r11 sf24 OOM fix is config math (session.py): the SHJ gate
    must divide the unified-memory execution pool across ALL
    concurrent builders and the hashmap expansion. Pin the formula on
    synthetic (pool, slots, expansion) triples and assert the shipped
    16 MiB conf sits AT OR BELOW the local-shape bound — if either
    side drifts, this test names which (VERDICT r11 #10)."""
    import pytest

    from etl_airbnb_mex_spark.session import shj_local_map_threshold

    gib = 1024 ** 3
    # local shape: 8g heap, 32 slots, 0.6 pool, 6x expansion -> 25.6 MiB
    local_bound = shj_local_map_threshold(8 * gib, 32)
    assert local_bound == int(8 * gib * 0.6 / 32 / 6.0) == 26_843_545
    # the shipped conf (16 MiB) must be within the safe region
    assert 16 * 1024 * 1024 <= local_bound
    # synthetic triples: a big-executor cluster shape and a skinny one
    assert shj_local_map_threshold(
        64 * gib, 16, execution_fraction=0.6, hashmap_expansion=4.0
    ) == int(64 * gib * 0.6 / 16 / 4.0)
    assert shj_local_map_threshold(
        2 * gib, 8, execution_fraction=0.5, hashmap_expansion=6.0
    ) == int(2 * gib * 0.5 / 8 / 6.0)
    # the r10 failure reproduced in units: at 64 MiB the gate admits
    # builds whose EXPANDED concurrent footprint exceeds the pool
    r10_gate = 64 * 1024 * 1024
    assert r10_gate * 32 * 6.0 > 8 * gib * 0.6
    # and the fixed gate does not
    assert 16 * 1024 * 1024 * 32 * 6.0 <= 8 * gib * 0.6
    # degenerate shapes must raise, not return nonsense
    with pytest.raises(ValueError):
        shj_local_map_threshold(0, 32)
    with pytest.raises(ValueError):
        shj_local_map_threshold(8 * gib, 32, hashmap_expansion=0.5)
