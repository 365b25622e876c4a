"""Porter-stemmer parity characterization (backlog: spark-nlp-exact parity).

Vectors are whole-algorithm outputs derived from the published algorithm
(Porter 1980) — the same algorithm Spark NLP's ``Stemmer`` annotator
implements, which is what the reference runs (Grounding.scala:84-86).
"""

import pytest
from pyspark.sql import functions as F

from platform_etl_backend_spark.operators.porter import porter_stem, porter_stem_tokens
from platform_etl_backend_spark.operators.nlp import stem_token

# (word, canonical whole-algorithm Porter output)
VECTORS = [
    # step 1a
    ("caresses", "caress"), ("ponies", "poni"), ("ties", "ti"),
    ("caress", "caress"), ("cats", "cat"),
    # step 1b + fixups
    ("feed", "feed"), ("agreed", "agre"), ("plastered", "plaster"),
    ("motoring", "motor"), ("sing", "sing"), ("hopping", "hop"),
    ("tanned", "tan"), ("falling", "fall"), ("hissing", "hiss"),
    ("failing", "fail"), ("filing", "file"),
    # step 1c
    ("happy", "happi"), ("sky", "sky"),
    # step 2 (continuing through 4/5)
    ("relational", "relat"), ("conditional", "condit"), ("rational", "ration"),
    ("valenci", "valenc"), ("digitizer", "digit"), ("operator", "oper"),
    ("feudalism", "feudal"), ("decisiveness", "decis"), ("hopefulness", "hope"),
    # step 3
    ("triplicate", "triplic"), ("formative", "form"), ("formalize", "formal"),
    ("goodness", "good"), ("hopeful", "hope"),
    # step 4
    ("revival", "reviv"), ("allowance", "allow"), ("inference", "infer"),
    ("airliner", "airlin"), ("adoption", "adopt"), ("adjustment", "adjust"),
    ("dependent", "depend"), ("activate", "activ"), ("effective", "effect"),
    # step 5
    ("probate", "probat"), ("cease", "ceas"), ("controll", "control"),
    ("roll", "roll"),
    # short words unchanged
    ("as", "as"), ("is", "is"), ("be", "be"),
    # domain-ish
    ("diseases", "diseas"), ("cancers", "cancer"), ("mutations", "mutat"),
    ("inhibitors", "inhibitor"), ("receptors", "receptor"),
]


@pytest.mark.parametrize("word,expected", VECTORS)
def test_porter_vectors(word, expected):
    assert porter_stem(word) == expected


def test_porter_udf_matches_python(spark):
    words = [w for w, _ in VECTORS]
    df = spark.createDataFrame([(words,)], "toks: array<string>")
    [row] = df.select(porter_stem_tokens("toks").alias("s")).collect()
    assert row.s == [porter_stem(w) for w in words]
    # null array passes through
    [row] = spark.createDataFrame([(None,)], "toks: array<string>").select(
        porter_stem_tokens("toks").alias("s")
    ).collect()
    assert row.s is None


def test_catalyst_stemmer_divergence_characterized(spark):
    """The default Catalyst stemmer is deliberately weaker than Porter.
    Characterize the divergence: on the vector list it must agree on the
    plural/-ing/-ed cores and is allowed to differ on measure-conditioned
    rules (documented in operators/nlp.py). If this ratio moves, the
    stemmers changed — re-check the labelN contract."""
    df = spark.createDataFrame([(w,) for w, _ in VECTORS], ["w"])
    rows = df.select("w", stem_token(F.col("w")).alias("lite")).collect()
    agree = sum(1 for r in rows if r.lite == porter_stem(r.w))
    # the lite stemmer currently matches Porter on ~40% of the hard vectors
    # and on all simple plurals; pin a floor so regressions surface
    assert agree >= 15, f"lite/Porter agreement collapsed: {agree}/{len(rows)}"

