import duckdb

from neural_search_spark.analysis.tokenizer import (
    SQL_TOKEN_PATTERN,
    tokenize_text,
)

SAMPLES = [
    "Hello world",
    "Hi to this place",
    "We would like to welcome everyone",
    "def foo_bar(x):\n    return x + 1",
    "public void Main() { int n9 = 42; }",
    "",
    "   \n\t  ",
    "UPPER lower MiXeD_case_42",
]


def test_python_vs_duckdb_tokenizer():
    con = duckdb.connect()
    for s in SAMPLES:
        got = con.execute(
            "SELECT regexp_extract_all(lower(?), ?)", [s, SQL_TOKEN_PATTERN]
        ).fetchone()[0]
        assert got == tokenize_text(s), s


def test_spark_udf_tokenizer(spark):
    from neural_search_spark.analysis.tokenizer import tokenize_udf
    import pyspark.sql.functions as F

    df = spark.createDataFrame([(i, s) for i, s in enumerate(SAMPLES)], "i int, s string")
    rows = df.select("i", tokenize_udf(F.col("s")).alias("toks")).orderBy("i").collect()
    for r in rows:
        assert list(r["toks"]) == tokenize_text(SAMPLES[r["i"]])


def test_term_freq_rows(spark):
    from neural_search_spark.analysis.tokenizer import term_freq_rows

    df = spark.createDataFrame([(0, "a b a c a b")], "docID long, content string")
    out = term_freq_rows(df, "content", "docID").collect()
    rows = {(r["term"]): r["tf"] for r in out}
    assert rows == {"a": 3, "b": 2, "c": 1}
    assert {r["dl"] for r in out} == {6}
