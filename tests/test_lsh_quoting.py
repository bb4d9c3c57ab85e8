"""Sign-LSH band codes take a column NAME and quote it themselves: a
name with spaces or backticks never becomes SQL text as it is."""

from pyspark.sql import functions as F

from amaxa_spark.operators.similarity import lsh_code, lsh_codes

ODD = "emb `v` 1"


def _vectors(spark, name):
    rows = [(i, [((i * 7 + d * 3) % 11) - 5.0 for d in range(6)]) for i in range(40)]
    return spark.createDataFrame(rows, ["id", "emb"]).withColumnRenamed("emb", name)


def test_odd_vector_column_name_gets_the_plain_name_codes(spark):
    plain, odd = _vectors(spark, "emb"), _vectors(spark, ODD)

    def codes(df, name):
        return sorted(
            (r.id, r.c, r.b)
            for r in df.select(
                "id",
                lsh_codes(name, 6, 4, 3).alias("c"),
                lsh_code(name, 6, 4, 1).alias("b"),
            ).collect()
        )

    want = codes(plain, "emb")
    assert codes(odd, ODD) == want
    # the string path and the Column path agree on the odd name too
    quoted = F.col("`" + ODD.replace("`", "``") + "`")
    col_path = sorted(
        (r.id, r.b)
        for r in odd.select("id", lsh_code(quoted, 6, 4, 1).alias("b")).collect()
    )
    assert col_path == [(i, b) for i, _c, b in want]
