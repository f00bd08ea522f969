"""Reference-parity pipeline (SURVEY §5.2 item 3).

Re-creates the semantics of the reference's deliberately-dirty fixture
(`/root/reference/data_penjualan.csv`: exact dup row, missing Quantity,
missing Region, inconsistent 'Jkt' vs 'Jakarta', FK into master_produk —
SURVEY §5.1) as inline data, then runs the exact cleaning pipeline the
reference supports (fill → dedup → replace → cast → join → filter)
through the Engine + Pipeline API, fused into ONE Catalyst plan instead
of the reference's per-click materialization (simple_etl.py:197 et al.).
"""

from __future__ import annotations

import datetime as dt

import pytest

from etlbigdata_spark.engine import Engine
from etlbigdata_spark.functions import bpe as fbpe
from etlbigdata_spark.functions import dedup as fdedup
from etlbigdata_spark.functions import similarity as fsim
from etlbigdata_spark.functions import text as ftext
from etlbigdata_spark.plans.pipeline import Pipeline


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark=spark)


@pytest.fixture(scope="module")
def sales(engine):
    rows = [
        ("TRX-101", "P-001", 2, "Jakarta", "Paid", "2024-01-05"),
        ("TRX-101", "P-001", 2, "Jakarta", "Paid", "2024-01-05"),  # exact dup
        ("TRX-102", "P-002", None, "Bandung", "Pending", "2024-01-06"),  # missing qty
        ("TRX-103", "P-003", 1, None, "Paid", "2024-01-07"),  # missing region
        ("TRX-104", "P-001", 3, "Jkt", "Paid", "2024-01-08"),  # inconsistent value
        ("TRX-105", "P-004", 5, "Surabaya", "Cancelled", "2024-01-09"),
    ]
    df = engine.spark.createDataFrame(
        rows, "trx_id string, product_id string, quantity int, region string, status string, sale_date string"
    )
    return engine.catalog.register("sales", df)


@pytest.fixture(scope="module")
def products(engine):
    rows = [(f"P-00{i}", f"Product {i}", 1000.0 * i) for i in range(1, 6)]
    df = engine.spark.createDataFrame(rows, "product_id string, product_name string, price double")
    return engine.catalog.register("products", df)


def test_reference_cleaning_pipeline(engine, sales, products):
    pipe = Pipeline(
        [
            {"op": "fill_nulls", "text_fill": "N/A", "numeric_fill": 0},
            {"op": "dedup"},
            {"op": "replace_value", "column": "region", "old": "Jkt", "new": "Jakarta"},
            {"op": "cast_column", "column": "sale_date", "type_name": "date"},
            {"op": "filter_contains", "column": "status", "needle": "Paid"},
            {"op": "join", "right": "products", "left_on": "product_id", "how": "left"},
            {"op": "merge_columns", "columns": ["trx_id", "region"], "separator": "|", "new_name": "trx_region"},
            {"op": "split_column", "column": "trx_id", "delimiter": "-", "n_parts": 2},
            {"op": "sort", "by": ["trx_id"]},
        ]
    )
    out = pipe.apply(sales, catalog=engine.catalog)
    rows = out.collect()

    assert [r["trx_id"] for r in rows] == ["TRX-101", "TRX-103", "TRX-104"]  # dedup + Paid filter
    by_id = {r["trx_id"]: r for r in rows}
    assert by_id["TRX-103"]["region"] == "N/A"  # null fill
    assert by_id["TRX-104"]["region"] == "Jakarta"  # value replace
    assert by_id["TRX-101"]["product_name"] == "Product 1"  # FK join
    assert by_id["TRX-101"]["sale_date"] == dt.date(2024, 1, 5)  # cast
    assert by_id["TRX-104"]["trx_region"] == "TRX-104|Jakarta"  # merge
    assert by_id["TRX-101"]["trx_id_1"] == "TRX" and by_id["TRX-101"]["trx_id_2"] == "101"  # split


def test_pipeline_is_one_fused_plan(engine, sales):
    """The whole op list lands in one optimized plan (no per-op
    materialization): the physical plan exists before any action runs."""
    pipe = Pipeline(
        [
            {"op": "fill_nulls", "text_fill": "N/A"},
            {"op": "filter_contains", "column": "status", "needle": "Paid"},
            {"op": "select", "columns": ["trx_id", "status"]},
        ]
    )
    out = pipe.apply(sales)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan" in plan  # single plan from filter back to the source


def test_union_via_pipeline(engine, sales):
    a = sales.filter("status = 'Paid'")
    engine.catalog.register("paid", a)
    pipe = Pipeline([{"op": "union", "others": ["paid"]}])
    out = pipe.apply(sales, catalog=engine.catalog)
    assert out.count() == sales.count() + a.count()


def test_unknown_op_rejected():
    with pytest.raises(ValueError, match="unknown op"):
        Pipeline([{"op": "not_a_thing"}])


def test_engine_sql_over_catalog(engine, sales, products):
    """B1 — SQL entry point resolves catalog names (temp views)."""
    out = engine.sql(
        """
        SELECT p.product_name, SUM(s.quantity) AS total_qty
        FROM sales s JOIN products p ON s.product_id = p.product_id
        WHERE s.status = 'Paid'
        GROUP BY p.product_name
        ORDER BY total_qty DESC, product_name
        """
    ).collect()
    assert [(r["product_name"], r["total_qty"]) for r in out] == [
        ("Product 1", 7),  # TRX-101 (2, counted once post-dup? no dedup here: 2+2+3)
        ("Product 3", 1),
    ]


def test_catalog_drop(engine):
    engine.catalog.register("tmp_t", engine.spark.range(3))
    assert "tmp_t" in engine.catalog
    engine.catalog.drop("tmp_t")
    assert "tmp_t" not in engine.catalog


def test_reference_user_full_journey_round5(engine, tmp_path):
    """End-to-end through the ROUND-5 surface, as a reference user would
    migrate: xlsx upload (no openpyxl needed) → clean → cast → join →
    enrich → SQL-UDF query → XML + parquet sinks → many-small-files
    compaction → reload, values intact throughout."""
    import sys

    sys.path.insert(0, "tests")
    from test_io import _make_xlsx

    from etlbigdata_spark.sources import readers, writers

    # 1. Extract: the reference's upload flow, but .xlsx via the stdlib path
    raw = _make_xlsx([
        ["trx", "prod", "qty", "region"],
        ["T1", "P-001", 2, "Jakarta"],
        ["T1", "P-001", 2, "Jakarta"],     # dup row
        ["T2", "P-002", None, "Jkt"],      # missing qty, inconsistent region
    ])
    sales = readers.read_excel(engine.spark, raw)
    prods = engine.spark.createDataFrame(
        [("P-001", "Widget"), ("P-002", "Gadget")], "prod string, product_name string"
    )

    # 2. Transform: the reference's ops through the Engine surface
    from pyspark.sql import functions as F

    from etlbigdata_spark.operators import cleaning
    cleaned = cleaning.deduplicate(sales)
    cleaned = cleaning.fill_nulls(cleaned, numeric_fill=0)
    cleaned = cleaning.replace_value(cleaned, "region", "Jkt", "Jakarta")
    joined = cleaned.join(F.broadcast(prods), "prod")

    # 3. SQL-UDF layer over the result
    engine.register_sql_functions()
    joined.createOrReplaceTempView("journey")
    out = engine.sql(
        "SELECT trx, product_name, qty, etl_fingerprint(region) AS region_fp FROM journey"
    )
    got = {(r.trx, r.product_name, r.qty) for r in out.collect()}
    assert got == {("T1", "Widget", 2), ("T2", "Gadget", 0)}
    assert out.select("region_fp").distinct().count() == 1  # both Jakarta

    # 4. Load: XML roundtrip + fragmented parquet sink → compaction → reload
    xml_path = str(tmp_path / "journey_xml")
    writers.write_xml(out, xml_path, row_tag="sale")
    back_xml = readers.read_xml(engine.spark, xml_path, row_tag="sale", schema=out.schema)
    assert back_xml.count() == 2

    pq_path = str(tmp_path / "journey_pq")
    for _ in range(4):
        out.coalesce(1).write.mode("append").parquet(pq_path)
    stats = writers.compact_parquet(engine.spark, pq_path, target_file_bytes=1 << 20)
    assert stats["files_before"] >= 4 and stats["files_after"] < stats["files_before"]
    final = engine.spark.read.parquet(pq_path)
    assert final.count() == 8  # 4 appends x 2 rows, all preserved


def test_llm_curation_journey_round6(engine, tmp_path):
    """Round-6 surface end-to-end through the Engine's dispatch and the
    package functions, as a corpus-curation user: containment dedup
    drops a doc that verbatim-contains another, unigram surprisal flags
    the gibberish doc, and a persisted IVF index reproduces the
    in-memory ANN probe."""
    from pyspark.sql import functions as F

    base = " ".join(f"tok{i} word{i} item{i}" for i in range(30))
    corpus = [
        (1, base),                                     # original
        (2, "intro text " + base + " closing remarks"),  # contains doc 1
        (3, " ".join(f"normal common tok{i % 7}" for i in range(40))),
        (4, "qzx vbn wrt plk jhg mnb zxc qwe asd fgh"), # gibberish
    ]
    docs = engine.spark.createDataFrame(corpus, "doc_id long, text string")

    pairs = engine.near_dup_pairs(docs, method="containment", n=5, threshold=0.8)
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == {(1, 2)}
    kept = engine.dedup_near(docs, method="containment", n=5, threshold=0.8)
    assert {r.doc_id for r in kept.collect()} == {1, 3, 4}  # min-id winner

    surp = ftext.unigram_surprisal(docs)
    rows = {r.doc_id: r.mean_surprisal for r in surp.collect()}
    assert max(rows, key=rows.get) == 4  # gibberish = most surprising
    assert rows[3] == min(rows.values())  # repetitive doc = least

    emb = engine.spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 10) for j in range(8)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    idx_path = str(tmp_path / "journey_ivf")
    fsim.ivf_write_index(emb, idx_path, n_centroids=4)
    probed = engine.probe_ann_index(idx_path, emb.limit(3), k=3, n_probe=2, round_to=6)
    inmem = engine.similar_topk(
        emb, emb.limit(3), k=3, method="ivf", n_centroids=4, n_probe=2, round_to=6
    )
    got = {(r.query_id, r.rank): r.neighbor_id for r in probed.collect()}
    want = {(r.query_id, r.rank): r.neighbor_id for r in inmem.collect()}
    assert got == want and len(got) == 9


def test_llm_curation_journey_round6_late(engine, tmp_path):
    """Late-round-6 surface as one curation flow through the Engine's
    span finder and the package functions: find cross-doc duplicated
    spans, cut every occurrence but the lowest-doc one, semantically
    dedup the embedding side, reduce dimensions with PCA, and
    train/apply a BPE tokenizer on the cleaned corpus — the end-to-end
    shape of a training-data prep pipeline."""
    from pyspark.sql import functions as F

    boiler = " ".join(f"license term{i} clause{i}" for i in range(6))  # 18 tokens
    docs = engine.spark.createDataFrame(
        [
            (1, boiler + " body one about apples and orchards"),
            (2, boiler + " body two about rivers and bridges"),
            (3, "independent document with entirely distinct content here"),
        ],
        "doc_id long, text string",
    )
    spans = engine.duplicated_spans(docs, n=5, min_tokens=10)
    assert {r.doc_id for r in spans.collect()} == {1, 2}
    # keep the boilerplate once (lowest doc), cut it elsewhere
    keep = spans.groupBy().agg(F.min("doc_id").alias("k"))
    cleaned = fdedup.cut_spans(
        docs, spans.join(keep, spans.doc_id == keep.k, "left_anti")
    )
    out = {r.doc_id: r.text for r in cleaned.collect()}
    assert out[1].startswith("license") and not out[2].startswith("license")
    assert engine.duplicated_spans(cleaned, n=5, min_tokens=10).count() == 0

    # semantic dedup: doc 2's embedding duplicates doc 1's
    emb = engine.spark.createDataFrame(
        [
            (1, [1.0, 0.0, 2.0, 3.0]),
            (2, [1.0, 0.0, 2.0, 3.0]),
            (3, [9.0, 4.0, 0.5, 1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    survivors = fsim.semantic_dedup(emb, n_centroids=2, threshold=0.99)
    assert {r.vec_id for r in survivors.collect()} == {1, 3}

    model = fsim.pca_fit(emb, k=2)
    proj = fsim.pca_transform(emb, model)
    assert len(proj.first()["pca"]) == 2

    merges = fbpe.bpe_learn(cleaned, num_merges=20, min_freq=2)
    toked = fbpe.bpe_encode(cleaned, merges)
    n = toked.select(F.sum(F.size("bpe_tokens"))).first()[0]
    assert merges and n > 0
