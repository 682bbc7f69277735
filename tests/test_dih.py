"""DataImportHandler gates (sources/dih.py vs solr/contrib/
dataimporthandler semantics): transformer compilation (template /
regex extract / regex replaceWith null-on-no-match / splitBy /
date format), child-entity multivalued fold, delta-import filter."""

import datetime

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.sources.dih import (
    ChildEntity,
    DIHField,
    RootEntity,
    full_import,
)


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("dih")
    parents = spark.createDataFrame(
        [
            (1, "alice", "5-LOW", "a,b,c",
             datetime.datetime(2020, 1, 1)),
            (2, "bob", "1-URGENT", "x",
             datetime.datetime(2021, 6, 15)),
            (3, "carol", "nopriority", "",
             datetime.datetime(2022, 3, 3)),
        ],
        "id long, name string, prio string, tags string, mtime timestamp",
    )
    children = spark.createDataFrame(
        [(1, 30), (1, 10), (1, 20), (2, 5)],
        "pid long, v int",
    )
    parents.write.mode("overwrite").parquet(str(base / "p.parquet"))
    children.write.mode("overwrite").parquet(str(base / "c.parquet"))
    return str(base / "p.parquet"), str(base / "c.parquet")


def _root(ppath, cpath, delta=None):
    return RootEntity(
        name="e",
        path=ppath,
        pk="id",
        delta_column=delta,
        fields=[
            DIHField("label", template="${e.name}#${e.id}"),
            DIHField("code", src="prio", regex=r"^(\d)-"),
            DIHField("pname", src="prio", regex=r"^\d-",
                     replace_with=""),
            DIHField("tag_list", src="tags", split_by=","),
            DIHField("day", src="mtime", date_format="yyyy-MM-dd"),
        ],
        children=[
            ChildEntity("kid", cpath, "id", "pid",
                        DIHField("vals", src="v", cast="string")),
        ],
    )


class TestTransformers:
    def test_full_import(self, spark, tables):
        ppath, cpath = tables
        rows = {r["id"]: r for r in
                full_import(spark, _root(ppath, cpath)).collect()}
        assert rows[1]["label"] == "alice#1"
        assert rows[1]["code"] == "1" or rows[1]["code"] == "5"
        assert rows[1]["code"] == "5"
        assert rows[1]["pname"] == "LOW"
        assert rows[1]["tag_list"] == ["a", "b", "c"]
        assert rows[1]["day"] == "2020-01-01"
        # child fold: sorted multivalue + count
        assert rows[1]["vals"] == ["10", "20", "30"]
        assert rows[1]["kid_count"] == 3
        assert rows[2]["vals"] == ["5"] and rows[2]["kid_count"] == 1
        # parent with no children: count 0, null multivalue
        assert rows[3]["kid_count"] == 0 and rows[3]["vals"] is None

    def test_regex_no_match_is_null(self, spark, tables):
        ppath, cpath = tables
        rows = {r["id"]: r for r in
                full_import(spark, _root(ppath, cpath)).collect()}
        # RegexTransformer returns null (not '') when find() fails
        assert rows[3]["code"] is None
        assert rows[3]["pname"] is None

    def test_delta_import(self, spark, tables):
        ppath, cpath = tables
        root = _root(ppath, cpath, delta="mtime")
        out = full_import(spark, root,
                          last_index_time=datetime.datetime(2021, 1, 1))
        assert sorted(r["id"] for r in out.collect()) == [2, 3]

    def test_plan_is_one_join_no_python(self, spark, tables):
        ppath, cpath = tables
        plan = full_import(spark, _root(ppath, cpath)) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


# ---------------------------------------------------------------------------
# Entity-processor / transformer pack
# ---------------------------------------------------------------------------

def test_line_entity_accept_skip(spark):
    """LineEntityProcessor.java:113-128 — accept uses find()
    semantics, skip wins over accept."""
    from lucene_solr_spark.sources.dih import line_entity

    lines = spark.createDataFrame(
        [("en,10",), ("zh,20",), ("de,30",), ("nope",)], "l string")
    out = line_entity(lines, "l", accept_line_regex=",",
                      skip_line_regex="^zh")
    assert sorted(r["rawLine"] for r in out.collect()) == [
        "de,30", "en,10"]
    # no regexes -> everything passes
    assert line_entity(lines, "l").count() == 4


def test_plain_text_entity(spark):
    from lucene_solr_spark.sources.dih import plain_text_entity

    out = plain_text_entity(spark, "hello world")
    assert out.columns == ["plainText"]
    assert out.collect()[0][0] == "hello world"


def test_file_list_entity(spark, tmp_path):
    """FileListEntityProcessor.java:170-246 — name find() + excludes,
    recursion gate, strict size bounds, required-directory throw."""
    import pytest

    from lucene_solr_spark.sources.dih import file_list_entity

    (tmp_path / "a.xml").write_text("x" * 10)
    (tmp_path / "b.xml").write_text("x" * 100)
    (tmp_path / "c.txt").write_text("x")
    sub = tmp_path / "sub"
    sub.mkdir()
    (sub / "d.xml").write_text("x" * 50)

    flat = file_list_entity(spark, str(tmp_path), file_name=r"\.xml$")
    assert sorted(r["file"] for r in flat.collect()) == ["a.xml", "b.xml"]
    rec = file_list_entity(spark, str(tmp_path), file_name=r"\.xml$",
                           recursive=True)
    assert sorted(r["file"] for r in rec.collect()) == [
        "a.xml", "b.xml", "d.xml"]
    excl = file_list_entity(spark, str(tmp_path), file_name=r"\.xml$",
                            excludes="^b")
    assert sorted(r["file"] for r in excl.collect()) == ["a.xml"]
    # biggerThan excludes sz <= bound (strict), smallerThan sz >= bound
    big = file_list_entity(spark, str(tmp_path), file_name=r"\.xml$",
                           bigger_than=10)
    assert [r["file"] for r in big.collect()] == ["b.xml"]
    small = file_list_entity(spark, str(tmp_path), file_name=r"\.xml$",
                             smaller_than=100)
    assert [r["file"] for r in small.collect()] == ["a.xml"]
    with pytest.raises(ValueError, match="not a directory"):
        file_list_entity(spark, str(tmp_path / "missing"))


def test_number_format_transformer_rules():
    """NumberFormatTransformer.java:98-131 — whole-string rule,
    integer stops at the decimal separator, percent /100, lenient
    grouping, locale separators."""
    import pytest

    from lucene_solr_spark.sources.dih import number_format_parse as p

    assert p("1,234", "integer") == 1234
    assert p("12,34", "integer") == 1234          # lenient grouping
    assert p("1,234.5", "number") == 1234.5
    assert p("1.234,5", "number", "de,DE") == 1234.5
    assert p("95%", "percent") == 0.95
    assert p("12,345%", "percent") == 123.45
    for bad in ("1,234.5", "abc"):
        with pytest.raises(ValueError):
            p(bad, "integer")
    with pytest.raises(ValueError):
        p("95", "percent")
    with pytest.raises(ValueError):
        p("$5", "currency")


def test_number_format_column_matches_scalar(spark):
    from pyspark.sql import functions as F

    from lucene_solr_spark.sources.dih import (
        number_format_column, number_format_parse)

    vals = ["1,234", "95%", "1.234,5"]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = df.select(
        number_format_column(F.col("v"), "number").alias("n"),
        number_format_column(F.col("v"), "percent").alias("p"),
        number_format_column(F.col("v"), "number", "de,DE").alias("d"),
    ).collect()
    assert got[0]["n"] == number_format_parse("1,234", "number")
    assert got[1]["p"] == number_format_parse("95%", "percent")
    assert got[2]["d"] == number_format_parse("1.234,5", "number",
                                              "de,DE")


def test_html_strip_transformer(spark):
    from pyspark.sql import functions as F

    from lucene_solr_spark.sources.dih import html_strip_column

    df = spark.createDataFrame([("<b>bold</b> text",)], "v string")
    out = df.select(html_strip_column(F.col("v")).alias("t")).collect()
    assert out[0]["t"].strip() == "bold text"


def test_variable_resolver_rules():
    """VariableResolver.java:68-198 — nested namespaces, the
    remaining-parts-rejoined fallback, evaluator dispatch, ''-for-
    missing, reverse-order replaceTokens, addNamespace forms."""
    import pytest

    from lucene_solr_spark.sources.dih import VariableResolver

    vr = VariableResolver({"defk": "defv"})
    vr.add_namespace("dataimporter.request",
                     {"city": "Oslo", "n": 5})
    assert vr.resolve("dataimporter.request.city") == "Oslo"
    assert vr.resolve("defk") == "defv"
    assert vr.resolve("missing.name") == ""
    assert vr.resolve(None) == ""
    # dotted-key form: keys containing dots land at nested levels
    vr2 = VariableResolver()
    vr2.add_namespace(None, {"a.b.c": 1})
    assert vr2.resolve("a.b.c") == 1
    # remaining-parts fallback: a literal dotted key at a mid level
    vr3 = VariableResolver()
    vr3.add_namespace("e", {"f.g.h": "joined"})
    assert vr3.resolve("e.f.g.h") == "joined"
    # replaceTokens, multiple + missing placeholders
    assert vr.replace_tokens(
        "go to ${dataimporter.request.city} x${nope}y ${defk}"
    ) == "go to Oslo xy defv"
    assert vr.replace_tokens(None) is None
    assert vr.get_variables("${a} and ${b.c}") == ["a", "b.c"]
    # evaluator dispatch through the functions namespace
    vr.evaluators = {"upper": lambda args, ctx: args.upper()}
    assert vr.resolve("dataimporter.functions.upper(oslo)") == "OSLO"
    assert vr.resolve("dih.functions.upper(x)") == "X"
    assert vr.resolve("dataimporter.functions.nope(x)") == ""
    # level collision with a non-map value raises
    vr4 = VariableResolver({"k": "leaf"})
    with pytest.raises(AssertionError):
        vr4.resolve("k.sub.x")
    # system-property fallback (injectable)
    vr5 = VariableResolver(system_props={"sys.prop": "sp"})
    assert vr5.resolve("sys.prop") == "sp"


def test_dih_evaluators():
    """The four built-in evaluators under their registered names
    (DataImporter.getEvaluators :515-521) + parseParams grammar
    (Evaluator.java:73-110)."""
    import pytest

    from lucene_solr_spark.sources.dih import (
        VariableResolver,
        default_evaluators,
        escape_query_chars,
        parse_params,
    )

    vr = VariableResolver({"city": "Oslo east",
                           "d": "2021-02-03 10:30:09"})
    vr.evaluators = default_evaluators()
    # URLEncoder semantics: space '+', '*' kept, '~' escaped
    assert vr.resolve(
        "dataimporter.functions.encodeUrl(city)") == "Oslo+east"
    assert vr.resolve("dih.functions.encodeUrl('a*b~c')") == "a*b%7Ec"
    # escapeSql replaceAll chain
    assert vr.resolve(
        "dataimporter.functions.escapeSql('o\\'neil')") == "o''neil"
    # Solr query chars incl. whitespace
    assert escape_query_chars('a+b (c):"d"') == \
        'a\\+b\\ \\(c\\)\\:\\"d\\"'
    # formatDate: variable date via the default format; date-math arg
    assert vr.resolve(
        "dataimporter.functions.formatDate(d, 'yyyy/MM/dd HH:mm')"
    ) == "2021/02/03 10:30"
    assert vr.resolve(
        "dataimporter.functions.formatDate('NOW/DAY', 'yyyy-MM-dd "
        "HH:mm:ss')") == "2024-01-03 00:00:00"
    # parseParams: quoted strings re-join across commas; numbers;
    # lazy variable wrappers; unterminated quote throws
    got = parse_params("'a,b', 42, city", vr)
    assert got[0] == "a,b" and got[1] == 42.0
    assert str(got[2]) == "Oslo east"
    # reference dead-throw quirk: invalid digit-leading tokens drop
    # silently (Evaluator.java:93-103 vs resolve's ''-for-missing)
    assert parse_params("7x7, 'k'", vr) == ["k"]
    with pytest.raises(ValueError, match="invalid string"):
        parse_params("'unterminated", vr)
    with pytest.raises(ValueError, match="must have"):
        vr.evaluators["escapeSql"]("'a','b'", vr)
    # wrong-arity formatDate
    with pytest.raises(ValueError, match="two, three or four"):
        vr.evaluators["formatDate"]("'NOW'", vr)


def test_reimport_sees_a_file_added_to_the_source(spark, tmp_path):
    """A re-import lists its sources again: the rows of a parquet file
    added to the orders source between two imports are imported by the
    second, and join the child entity's rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lucene_solr_spark.driver_entry import q_dih_import

    def orders(keys):
        n = len(keys)
        return pa.table({
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array([7] * n, pa.int64()),
            "o_orderstatus": ["O"] * n,
            "o_orderdate": pa.array([datetime.datetime(2020, 1, 2)] * n,
                                    pa.timestamp("us")),
            "o_orderpriority": ["1-URGENT"] * n,
        })

    for name in ("orders.parquet", "lineitem.parquet"):
        (tmp_path / name).mkdir()
    pq.write_table(orders([1, 2]),
                   tmp_path / "orders.parquet" / "part-0.parquet")
    pq.write_table(pa.table({"l_orderkey": pa.array([1, 1, 3], pa.int64()),
                             "l_linenumber": pa.array([1, 2, 1], pa.int64())}),
                   tmp_path / "lineitem.parquet" / "part-0.parquet")

    def imported():
        return [(r["o_orderkey"], r["lineitem_count"])
                for r in q_dih_import(spark, str(tmp_path)).collect()]

    assert imported() == [(1, 2), (2, 0)]
    pq.write_table(orders([3]),
                   tmp_path / "orders.parquet" / "part-1.parquet")
    assert imported() == [(1, 2), (2, 0), (3, 1)]
