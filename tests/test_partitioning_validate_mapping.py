"""Partition pruning on date-partitioned pages (the Iceberg-layout
stand-in) + mapping-level `validate:` input rules."""

from pyspark.sql import functions as F

from ontoweaver_spark import extract
from ontoweaver_spark.pages import generate_pages


def test_partition_pruning_on_dated_pages(spark, tmp_path):
    """At web scale the pages table partitions by crawl date; a mapping run
    over one day must scan only that day's files (PartitionFilters in the
    plan, not a post-scan filter)."""
    out = str(tmp_path / "pages_by_day")
    pages = generate_pages(spark, 2000, seed=42)
    pages.withColumn("day", F.to_date("warc_ts")).write.partitionBy("day").parquet(out)

    df = spark.read.parquet(out)
    one_day = df.select(F.max(F.col("day").cast("string"))).collect()[0][0]
    filtered = df.where(F.col("day") == one_day)

    plan = filtered._jdf.queryExecution().executedPlan().toString()
    scan_line = next(l for l in plan.splitlines() if "FileScan" in l or "Scan parquet" in l)
    assert "PartitionFilters: [" in plan
    # the day predicate must appear as a partition filter on the scan
    assert any(
        "isnotnull(day" in l or "day" in l
        for l in plan.splitlines() if "PartitionFilters" in l
    ), plan[:2000]
    # and the extraction still runs on the pruned slice
    mapping = {
        "row": {"map": {"id_from_column": "url", "to_subject": "page"}},
        "transformers": [
            {"lower": {"column": "lang", "to_object": "language", "via_relation": "in_lang"}},
        ],
    }
    nodes, _ = extract(filtered, mapping, affix="none")
    n_expected = filtered.count()
    assert nodes.where(F.col("label") == "page").count() == n_expected


def test_mapping_level_validate_rules(spark):
    df = spark.createDataFrame(
        [("a", "en", 10), ("b", "xx", 10), ("c", "en", 99999), (None, "en", 10)],
        "id string, lang string, n long",
    )
    mapping = {
        "row": {"map": {"id_from_column": "id", "to_subject": "thing"}},
        "transformers": [
            {"map": {"column": "lang", "to_object": "language", "via_relation": "in_lang"}},
        ],
        "validate": {
            "lang": {"isin": ["en", "es"]},
            "n": {"in_range": [0, 1000]},
            "id": {"required": True},
        },
    }
    import pytest

    # default mode mirrors the reference's InputValidator: fail loudly on
    # the first invalid row, naming the violated rule column
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    nodes_raise, _ = extract(df, mapping, affix="none")
    with pytest.raises(SparkRuntimeException, match="input validation failed"):
        nodes_raise.collect()

    # filter mode: silent drop (opt-in)
    nodes, edges = extract(df, mapping, affix="none", validate_mode="filter")
    got = {r["id"] for r in nodes.where(F.col("label") == "thing").collect()}
    assert got == {"a"}  # b: bad lang, c: out of range, None id: required

    # report mode: dropped rows counted per rule
    from ontoweaver_spark.compiler import compile_mapping

    res = compile_mapping(df, mapping, validate_mode="report")
    assert res.validation_report.total == 4
    assert res.validation_report.invalid == 3
    assert res.validation_report.per_rule == {"id": 1, "lang": 1, "n": 1}
    assert {r["id"] for r in res.nodes.where(F.col("label") == "thing").collect()} == {"a"}

    # invalid rule shape -> MappingError
    from ontoweaver_spark.spec import MappingError, load_mapping
    with pytest.raises(MappingError, match="validate"):
        load_mapping({**mapping, "validate": {"lang": "en"}})
    # misspelled rule key / pasted pandera section -> MappingError at parse
    with pytest.raises(MappingError, match="unknown validation rule"):
        load_mapping({**mapping, "validate": {"lang": {"is_in": ["en"]}}})
    with pytest.raises(MappingError, match="pandera"):
        load_mapping({**mapping, "validate": {"columns": {"lang": {"dtype": "str"}}}})


def test_validate_rules_push_to_scan(spark, tmp_path):
    """in_range / isin rules on native-typed columns must reach the parquet
    scan as PushedFilters (they run before the string-cast projection)."""
    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "en" if i % 2 else "xx") for i in range(100)], "id long, lang string"
    ).write.parquet(p)
    mapping = {
        "row": {"map": {"id_from_column": "id", "to_subject": "thing"}},
        "transformers": [
            {"map": {"column": "lang", "to_object": "language", "via_relation": "r"}},
        ],
        "validate": {"id": {"in_range": [0, 50]}},
    }
    nodes, _ = extract(spark.read.parquet(p), mapping, affix="none",
                       validate_mode="filter")
    plan = nodes._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "PushedFilters: [" in scan and "GreaterThanOrEqual(id" in scan, scan[:400]


def test_rule_value_shapes_checked_at_parse():
    """A rule value of the wrong shape fails when the mapping is parsed:
    a scalar ``isin: en`` used to run ``lang IN ('e', 'n')``, and a
    one-bound or string ``in_range`` failed later with a bare unpack error."""
    import pytest

    from ontoweaver_spark.spec import MappingError, load_mapping
    from ontoweaver_spark.validate import compile_rule

    base = {"row": {"map": {"id_from_column": "id", "to_subject": "thing"}}}
    for rule, shape in (
        ({"isin": "en"}, "a list"),
        ({"in_range": [1]}, "two numbers"),
        ({"in_range": "0-5"}, "two numbers"),
        ({"in_range": [0, "5"]}, "two numbers"),
        ({"str_matches": 5}, "a string"),
        ({"required": "yes"}, "a bool"),
    ):
        with pytest.raises(MappingError, match=shape):
            load_mapping({**base, "validate": {"lang": rule}})
        with pytest.raises(ValueError, match=shape):
            compile_rule("lang", rule)
    with pytest.raises(MappingError, match="pandera"):
        load_mapping({**base, "validate": {"lang": {"dtype": "str", "checks": []}}})
    spec = load_mapping({**base, "validate": {
        "lang": {"isin": ["en"], "required": True, "str_matches": "^e"},
        "n": {"in_range": [0, 1.5]}}})
    assert spec.input_rules["n"] == {"in_range": [0, 1.5]}
