import pytest

from robokop_build_spark.sources.lookup import lookup_by_name


@pytest.fixture(scope="module")
def lexicon(spark):
    rows = [
        ("fanconi anemia", "MONDO:1", "disease"),
        ("fanconi anemia", "HP:9", "disease"),  # must be dropped for disease
        ("fanconi anemia", "HP:9", "phenotypic_feature"),
        ("aspirin", "MESH:42", "chemical_substance"),
        ("brca1", "NCBIGENE:672", "gene"),
    ]
    return spark.createDataFrame(rows, ["surface", "curie", "node_type"])


def test_case_insensitive_exact_match(spark, lexicon):
    names = spark.createDataFrame([("Fanconi Anemia",)], ["name"])
    got = {r["curie"] for r in lookup_by_name(names, lexicon, "disease").collect()}
    assert got == {"MONDO:1"}  # HP hit filtered (lookup_utils.py:26)


def test_comma_inversion(spark, lexicon):
    names = spark.createDataFrame([("Anemia, Fanconi",)], ["name"])
    got = {r["curie"] for r in lookup_by_name(names, lexicon, "disease").collect()}
    assert got == {"MONDO:1"}


def test_phenotype_keeps_hp(spark, lexicon):
    names = spark.createDataFrame([("fanconi anemia",)], ["name"])
    got = {
        r["curie"] for r in lookup_by_name(names, lexicon, "phenotypic_feature").collect()
    }
    assert got == {"HP:9"}


def test_unsupported_type_rejected(spark, lexicon):
    names = spark.createDataFrame([("x",)], ["name"])
    with pytest.raises(ValueError):
        lookup_by_name(names, lexicon, "pathway")
