"""Expression operators tests (reference shape:
``tests/test_expression_processing.py``)."""
import pytest

from etl_for_all_studies_spark.operators.expression import (
    ExpressionSchemaError,
    expression_wide_to_long,
    filter_to_whitelist,
    intersect_sample_columns,
)
from etl_for_all_studies_spark.sources.study_io import (
    InputFormatError,
    read_expression_wide,
    read_gene_filter,
)


@pytest.fixture()
def wide(spark, study_tree):
    return read_expression_wide(
        spark, str(study_tree["studies"] / "GSE1" / "expression_GSE1.tsv")
    )


def test_first_column_validation(spark, tmp_path):
    bad = tmp_path / "bad.tsv"
    bad.write_text("notgene\tS1\nX\t1.0\n")
    with pytest.raises(InputFormatError):
        read_expression_wide(spark, str(bad))


def test_sample_intersection_drops_and_warns(wide):
    kept, missing = intersect_sample_columns(wide, ["S1", "S3", "S4"])
    assert kept == ["S1", "S3"]  # expression column order preserved; S9 pruned
    assert missing == ["S4"]


def test_no_surviving_samples_errors(wide):
    with pytest.raises(ExpressionSchemaError):
        expression_wide_to_long(wide, ["ZZZ"], "GSE1")


def test_unpivot_cast_drop_and_whitelist(spark, wide, study_tree):
    long = expression_wide_to_long(wide, ["S1", "S2", "S3"], "GSE1")
    rows = long.collect()
    # 5 genes x 3 samples = 15 cells, minus 1 unparseable "NA"
    assert len(rows) == 14
    assert all(r["gsm_accession"] != "S9" for r in rows)
    genes = read_gene_filter(spark, str(study_tree["genes"]))
    filtered = filter_to_whitelist(long, genes)
    assert filtered.where("ensembl_id = 'ENSGXX'").count() == 0
    assert filtered.count() == 11


def test_wide_side_whitelist_prefilter_matches_postfilter(
    spark, wide, study_tree
):
    """The gene whitelist applied on the WIDE side (before the melt — the
    reference's row-oriented order, expression_processing.py:83-84) must
    admit exactly the rows the long-side filter admits, and it must execute
    BELOW the Expand, as a constant test with no join, so only gene rows
    pay the probe."""
    genes = read_gene_filter(spark, str(study_tree["genes"]))
    post = filter_to_whitelist(
        expression_wide_to_long(wide, ["S1", "S2", "S3"], "GSE1"), genes
    )
    pre = expression_wide_to_long(
        wide, ["S1", "S2", "S3"], "GSE1", gene_whitelist=genes
    )
    key = ["ensembl_id", "gsm_accession", "expression_value"]
    assert sorted(map(tuple, pre.select(key).collect())) == sorted(
        map(tuple, post.select(key).collect())
    )
    plan = pre._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan and "Join" not in plan
    # top-down tree: Expand printing before the whitelist's hash test
    # (literal_lookup's crc32) = the filter runs below it
    assert plan.index("Expand") < plan.index("crc32")


def test_gene_filter_validation(spark, tmp_path):
    f = tmp_path / "genes.tsv"
    f.write_text("wrong_col\nX\n")
    with pytest.raises(InputFormatError):
        read_gene_filter(spark, str(f))
    f.write_text("ensembl_id\n\n   \n")
    with pytest.raises(InputFormatError):
        read_gene_filter(spark, str(f))


def _jobs(spark, group: str, action) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_whitelist_is_read_in_one_job_and_filters_without_one(spark, study_tree):
    """``read_gene_filter`` collects the trimmed, distinct, non-blank ids in
    one job; either melt filtered by them runs the jobs it runs unfiltered
    (no broadcast of the whitelist)."""
    from etl_for_all_studies_spark.operators.expression import expression_text_to_long

    genes_file = study_tree["root"] / "padded_genes.tsv"
    genes_file.write_text("ensembl_id\n ENSG02 \nENSG01\n\n   \nENSG01\n")
    got = {}
    assert _jobs(spark, "wl-read", lambda: got.update(ids=read_gene_filter(spark, str(genes_file)))) == 1
    assert got["ids"] == ["ENSG01", "ENSG02"]

    path = str(study_tree["studies"] / "GSE1" / "expression_GSE1.tsv")
    melts = {
        "wide": lambda wl: expression_wide_to_long(
            read_expression_wide(spark, path), ["S1", "S2", "S3"], "GSE1", gene_whitelist=wl
        ),
        "text": lambda wl: expression_text_to_long(
            spark, path, ["S1", "S2", "S3"], "GSE1", gene_whitelist=wl
        ),
    }
    for name, melt in melts.items():
        rows = {}
        counts = [
            _jobs(spark, f"wl-{name}-{wl is None}", lambda: rows.update({wl is None: melt(wl).collect()}))
            for wl in (None, got["ids"])
        ]
        assert counts[0] == counts[1], name
        assert {r["ensembl_id"] for r in rows[False]} == {"ENSG01", "ENSG02"}, name


def test_quantile_normalize_bolstad_example(spark):
    """Classic worked example: after QN every sample carries the identical
    reference distribution (the per-rank cross-sample means), ragged
    samples average over present ranks only, and grouped matrices
    normalize within their group."""
    from etl_for_all_studies_spark.operators.expression import quantile_normalize

    rows = [  # samples A=(2,4,6) B=(1,2,3): ref dist = (1.5, 3.0, 4.5)
        ("A", "g1", 4.0), ("A", "g2", 2.0), ("A", "g3", 6.0),
        ("B", "g1", 3.0), ("B", "g2", 1.0), ("B", "g3", 2.0),
    ]
    df = spark.createDataFrame(rows, "gsm_accession string, ensembl_id string, expression_value double")
    out = {
        (r["gsm_accession"], r["ensembl_id"]): (r["qn_rank"], r["qn_value"])
        for r in quantile_normalize(df).collect()
    }
    assert out[("A", "g2")] == (1, 1.5) and out[("B", "g2")] == (1, 1.5)
    assert out[("A", "g1")] == (2, 3.0) and out[("B", "g3")] == (2, 3.0)
    assert out[("A", "g3")] == (3, 4.5) and out[("B", "g1")] == (3, 4.5)

    # ragged: sample C has only 1 value → rank-1 mean now over 3 samples
    ragged = spark.createDataFrame(
        rows + [("C", "g9", 7.5)],
        "gsm_accession string, ensembl_id string, expression_value double",
    )
    r1 = {
        (r["gsm_accession"], r["ensembl_id"]): r["qn_value"]
        for r in quantile_normalize(ragged).collect()
    }
    assert r1[("C", "g9")] == (2.0 + 1.0 + 7.5) / 3
    assert r1[("A", "g1")] == 3.0  # rank 2 untouched by the ragged sample

    # grouping: two studies normalize independently
    grouped = spark.createDataFrame(
        [("s1", *r) for r in rows] + [("s2", "A", "g1", 100.0), ("s2", "B", "g1", 50.0)],
        "study string, gsm_accession string, ensembl_id string, expression_value double",
    )
    g = {
        (r["study"], r["gsm_accession"], r["ensembl_id"]): r["qn_value"]
        for r in quantile_normalize(grouped, group_cols=["study"]).collect()
    }
    assert g[("s2", "A", "g1")] == 75.0 and g[("s2", "B", "g1")] == 75.0
    assert g[("s1", "A", "g2")] == 1.5  # s1 unchanged by s2's scale


def test_wide_tsv_beyond_univocity_default_column_cap(spark, tmp_path):
    """Spark's univocity parser rejects >20,480 columns unless maxColumns is
    raised — the reference's envelope is 10k-50k samples/study, so a wide
    read at 25k columns must parse (found by the 50k-sample probe)."""
    from etl_for_all_studies_spark.sources.study_io import read_expression_wide

    n = 25_000
    p = tmp_path / "wide.tsv"
    with p.open("w") as f:
        f.write("Gene\t" + "\t".join(f"S{i}" for i in range(n)) + "\n")
        f.write("ENSG01\t" + "\t".join("1.5" for _ in range(n)) + "\n")
    df = read_expression_wide(spark, str(p))
    assert len(df.columns) == n + 1
    row = df.select("ensembl_id", f"S{n - 1}").collect()
    assert row == [("ENSG01", "1.5")]


def _messy_tsv(tmp_path):
    """Fixture with every melt edge: bad cells, an unkept column, a missing
    metadata sample, whitespace-padded gene ids, an empty trailing field."""
    p = tmp_path / "messy.tsv"
    p.write_text(
        "Gene\tS1\tS2\tUNKEPT\tS3\n"
        "ENSG01\t1.5\tbad\t9\t2.5\n"
        " ENSG02 \t-3\t\t9\t4e2\n"      # padded id, empty cell
        "ENSG03\tNaN\t0\t9\t7\n"        # NaN parses as double NaN? no: try_cast -> NaN is valid
        "DROPME\t1\t2\t9\t3\n"
    )
    return str(p)


# plain files whose edges the CSV reader tolerates: (name, bytes, samples);
# every one must melt to the same rows on both paths
_PLAIN_EDGES = [
    ("bom", "\ufeffGene\tS1\tS2\nENSG01\t1.5\t2\nENSG02\t3\t4\n".encode(), ["S1", "S2"]),
    ("crlf", b"Gene\tS1\tS2\r\nENSG01\t1.5\t2\r\nENSG02\t3\t4\r\n", ["S1", "S2"]),
    ("blank-line", b"Gene\tS1\tS2\nENSG01\t1.5\t2\n\nENSG02\t3\t4\n", ["S1", "S2"]),
    ("short-row", b"Gene\tS1\tS2\tS3\nENSG01\t1.5\nENSG02\t3\t4\t5\n", ["S1", "S2", "S3"]),
    ("long-row", b"Gene\tS1\tS2\nENSG01\t1.5\t2\t7\t8\nENSG02\t3\t4\n", ["S1", "S2"]),
    (
        "quoted-cells",
        b'Gene\tS1\tS2\n"ENSG01"\t"1.5"\t2\nENSG02\t"3"\t""\n',
        ["S1", "S2"],
    ),
    ("duplicate-names", b"Gene\tS1\tS2\tS1\nENSG01\t1\t2\t3\n", ["S1", "S2"]),
]


def test_text_melt_matches_wide_melt(spark, tmp_path):
    """expression_text_to_long is a bit-exact twin of expression_wide_to_long
    on the same file — O-13 whitelist, O-14 pruning, O-15 bad-cell drop —
    including the plain-file edges the CSV reader tolerates: a byte-order
    mark, CRLF, a blank line, rows shorter and longer than the header,
    quoted cells under an unquoted header, and a repeated column name."""
    from etl_for_all_studies_spark.operators.expression import (
        expression_text_to_long,
    )

    import math

    path = _messy_tsv(tmp_path)
    samples = ["S1", "S2", "S3", "SMISSING"]
    wl = ["ENSG01", "ENSG02", "ENSG03"]

    def canon(df):  # NaN == NaN for the comparison (both paths keep "NaN")
        return sorted(
            tuple("NaN" if isinstance(v, float) and math.isnan(v) else v
                  for v in row)
            for row in df.collect()
        )

    def both(path, samples, wl):
        via_wide = canon(expression_wide_to_long(
            read_expression_wide(spark, path), samples, "GSEX", gene_whitelist=wl
        ))
        via_text = canon(
            expression_text_to_long(spark, path, samples, "GSEX", gene_whitelist=wl)
        )
        return via_wide, via_text

    via_wide, via_text = both(path, samples, wl)
    assert via_text == via_wide
    genes_seen = {r[1] for r in via_text}
    assert "DROPME" not in genes_seen and "ENSG02" in genes_seen
    cols_seen = {r[2] for r in via_text}
    assert cols_seen == {"S1", "S2", "S3"}  # UNKEPT pruned positionally

    for name, content, edge_samples in _PLAIN_EDGES:
        p = tmp_path / f"{name}.tsv"
        p.write_bytes(content)
        for edge_wl in (None, ["ENSG01", "ENSG02"]):
            via_wide, via_text = both(str(p), edge_samples, edge_wl)
            assert via_text == via_wide, (name, edge_wl)
            assert via_text, name
        if name == "quoted-cells":  # "1.5" is unquoted, not silently lost
            assert ("GSEX", "ENSG01", "S1", 1.5) in via_text


def test_text_melt_validation_parity(spark, tmp_path):
    from etl_for_all_studies_spark.operators.expression import (
        expression_text_to_long,
    )

    bad = tmp_path / "bad.tsv"
    bad.write_text("notgene\tS1\nX\t1.0\n")
    with pytest.raises(InputFormatError):
        expression_text_to_long(spark, str(bad), ["S1"], "GSEX")
    ok = tmp_path / "ok.tsv"
    ok.write_text("Gene\tS1\nX\t1.0\n")
    with pytest.raises(ExpressionSchemaError):
        expression_text_to_long(spark, str(ok), ["ZZZ"], "GSEX")


def _spy_melts(pipeline, monkeypatch) -> list[str]:
    """Names of the melt-path calls ``run_pipeline`` makes, in order."""
    calls = []
    for fn in ("read_expression_wide", "expression_wide_to_long", "expression_text_to_long"):
        real = getattr(pipeline, fn)
        monkeypatch.setattr(
            pipeline, fn, lambda *a, _fn=fn, _real=real, **k: calls.append(_fn) or _real(*a, **k)
        )
    return calls


def test_pipeline_routes_ultrawide_to_text_melt(spark, study_tree, monkeypatch):
    """A plain-TSV study of any width, the fixture's included, takes the
    text path end-to-end through run_pipeline — identical warehouse
    facts, and the CSV scan is never opened."""
    import etl_for_all_studies_spark.plans.pipeline as pl
    from etl_for_all_studies_spark import run_pipeline
    from etl_for_all_studies_spark.config import config_from_dict

    cfg = config_from_dict(
        {
            "warehouse": {"path": str(study_tree["root"] / "wh_textmelt")},
            "processing": {
                "input_directory": str(study_tree["studies"]),
                "gene_filter_file": str(study_tree["genes"]),
            },
            "logging": {"log_level": "WARNING"},
        }
    )
    melts = _spy_melts(pl, monkeypatch)
    res = run_pipeline(cfg, spark=spark)
    assert melts == ["expression_text_to_long"]
    assert not res.failures and res.fact_rows_written > 0
    facts = spark.read.parquet(
        str(study_tree["root"] / "wh_textmelt" / "fact_expression")
    )
    assert facts.count() == res.fact_rows_written


def test_quoted_ultrawide_stays_on_csv_path(spark, study_tree, monkeypatch):
    """A quoted expression TSV must route to the CSV wide path (the full
    CSV dialect, which unquotes every field), not the text melt. univocity
    strips quotes during parsing, so the guard must read the RAW header
    (ADVICE r9, medium)."""
    import etl_for_all_studies_spark.plans.pipeline as pl
    from etl_for_all_studies_spark import run_pipeline
    from etl_for_all_studies_spark.config import config_from_dict

    # re-write the fixture study fully quoted (header fields + cells)
    expr = study_tree["studies"] / "GSE1" / "expression_GSE1.tsv"
    quoted = "\n".join(
        "\t".join(f'"{c}"' for c in line.split("\t"))
        for line in expr.read_text().rstrip("\n").split("\n")
    )
    expr.write_text(quoted + "\n")

    cfg = config_from_dict(
        {
            "warehouse": {"path": str(study_tree["root"] / "wh_quoted")},
            "processing": {
                "input_directory": str(study_tree["studies"]),
                "gene_filter_file": str(study_tree["genes"]),
            },
            "logging": {"log_level": "WARNING"},
        }
    )
    melts = _spy_melts(pl, monkeypatch)
    res = run_pipeline(cfg, spark=spark)
    assert melts == ["read_expression_wide", "expression_wide_to_long"]
    assert not res.failures
    facts = spark.read.parquet(
        str(study_tree["root"] / "wh_quoted" / "fact_expression")
    )
    # same 11 facts the unquoted fixture yields (4 whitelist genes × S1-S3,
    # ENSG04/S1 'NA' dropped) — quoted values parsed, nothing silently lost
    assert res.fact_rows_written == facts.count() == 11
    wh = study_tree["root"] / "wh_quoted"
    genes = spark.read.parquet(str(wh / "dim_gene"))
    samples = spark.read.parquet(str(wh / "dim_sample"))
    vals = {
        (r.ensembl_id, r.gsm_accession): r.expression_value
        for r in facts.join(genes, "gene_key")
        .join(samples, "sample_key")
        .select("ensembl_id", "gsm_accession", "expression_value")
        .collect()
    }
    assert vals[("ENSG02", "S2")] == pytest.approx(1.5)


def test_sniff_header_non_utf8_falls_back(tmp_path, spark):
    """A non-UTF-8 byte in the header returns None (ceiling fallback)
    instead of raising from every _read_tsv (ADVICE r9, low)."""
    from etl_for_all_studies_spark.sources.study_io import sniff_header

    p = tmp_path / "latin1.tsv"
    p.write_bytes(b"Gene\tS\xe9ries\nENSG01\t1.0\n")
    assert sniff_header(str(p)) is None
    # the Spark CSV scan still reads it leniently
    df = read_expression_wide(spark, str(p))
    assert df.count() == 1


@pytest.mark.parametrize(
    "header, declared",
    [
        ("a\t\tb", True),  # empty name -> _c1
        ("a\tb\ta", True),  # exact duplicate -> a0, a2
        ("Gene\tS1\ts1\tS1", True),  # case-only duplicate -> S11, s12, S13
        ("Gène\tÉchantillon\té\tÉ\tSTRASSE\tstraße", True),  # non-ASCII
        ("\ufeffGene\tS1", True),  # the reader drops a byte-order mark
        ('"Gene"\t"S1"', False),  # quoted: Spark unquotes, so it infers
    ],
    ids=["empty", "duplicate", "case-duplicate", "non-ascii", "bom", "quoted"],
)
def test_declared_tsv_schema_matches_header_inference(spark, tmp_path, header, declared):
    """The schema ``_read_tsv`` declares from the sniffed header names the
    columns as Spark's header inference does, reads the same rows, and
    opening the scan starts no job; a quoted header falls back to
    inference (one job)."""
    from etl_for_all_studies_spark.sources.study_io import _read_tsv

    p = tmp_path / "t.tsv"
    width = len(header.split("\t"))
    p.write_text(
        header + "\n" + "\t".join(str(i) for i in range(width)) + "\nx\n",
        encoding="utf-8",
    )
    sc = spark.sparkContext
    sc.setJobGroup("declared-tsv", "open the scan only")
    try:
        df = _read_tsv(spark, str(p))
        jobs = len(sc.statusTracker().getJobIdsForGroup("declared-tsv"))
    finally:
        sc.setJobGroup(None, None)
    inferred = spark.read.option("sep", "\t").option("header", True).csv(str(p))
    assert df.columns == inferred.columns
    assert df.collect() == inferred.collect()
    assert jobs == (0 if declared else 1)
