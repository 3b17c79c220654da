import pytest

from analytics import observed

EXPECTED = {
    "pagerank": [2, 30, 20],
    "components": 1,
    "triangles": 4,
    "kcore": 3,
    "predstats": {"<a>": 2, "<b>": 5},
}
WRONG = {
    "pagerank": [2, 30, 21],
    "components": 2,
    "triangles": 5,
    "kcore": 4,
    "predstats": {"<a>": 2, "<b>": 6},
}


def _result(spark, name):
    """A frame shaped like the store's result for job ``name``."""
    if name == "pagerank":
        return spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "id long, term string, rank long")
    if name == "components":
        return spark.createDataFrame([(1, "a", 1), (2, "b", 1)], "id long, term string, component long")
    if name == "triangles":
        return spark.createDataFrame([(4,)], "n_triangles long")
    if name == "kcore":
        return spark.createDataFrame([(i, "x", 3) for i in range(3)], "id long, term string, degree long")
    return spark.createDataFrame([("<a>", 2), ("<b>", 5)], "predicate string, n_quads long")


@pytest.mark.parametrize("name", list(EXPECTED))
def test_observed_check_accepts_the_expected_result_only(spark, name):
    for expected, ok in ((EXPECTED, True), (WRONG, False)):
        df, mismatch = observed(name, _result(spark, name), expected)
        df.write.format("noop").mode("overwrite").save()
        assert (mismatch() is None) == ok


def test_predicate_stats_check_rejects_an_extra_predicate(spark):
    extra = spark.createDataFrame([("<a>", 2), ("<b>", 5), ("<c>", 1)], "predicate string, n_quads long")
    df, mismatch = observed("predstats", extra, EXPECTED)
    df.write.format("noop").mode("overwrite").save()
    assert mismatch() is not None
