"""X7 parity characterization: the grounding labelN keys vs the reference's
Spark-NLP pipeline contract (literature/Grounding.scala).

Three layers of evidence, no reference code imported or copied:

1. ``porter_stem`` vs the published examples in M.F. Porter, "An algorithm
   for suffix stripping" (Program 14(3), 1980) — the same algorithm behind
   Spark-NLP's ``Stemmer`` annotator (Grounding.scala:84-86).
2. Golden ``labelN`` keys (both keyType=LT and keyType=TT) for a fixture
   corpus of disease labels drawn from the reference's own test resource
   (``src/test/resources/efo_sample.json.gz``) plus synthetic edge cases
   covering every pipeline stage: greek translate (:148-150), split-char
   tokenization (:50-59), case-sensitive pre-lowercase stop words (:19-31),
   Normalizer cleanup (:73-79), and the generateKeysColumn join contract
   (:380-400 — LT: sorted distinct stemmed tokens joined with NO separator;
   TT: normalized tokens in order, not deduplicated, no separator).
3. Enumerated divergences of the engine's default ``label_key`` from the
   reference contract (separator, stemmer strength, stop list) — the
   default is deliberately different and oracle-checkable; grounding joins
   must use one variant on both sides.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from platform_etl_backend_spark.operators.nlp import (
    label_key,
    normalize,
    reference_label_key,
    remove_stopwords,
    tokenize,
)
from platform_etl_backend_spark.operators.porter import porter_stem, porter_stem_tokens

# ---------------------------------------------------------------------------
# 1. Porter algorithm: examples from the 1980 paper, step by step.
# ---------------------------------------------------------------------------

PORTER_PAPER_EXAMPLES = {
    # step 1a
    "caresses": "caress", "ponies": "poni", "ties": "ti", "caress": "caress",
    "cats": "cat",
    # step 1b (+ cleanup rules)
    "feed": "feed", "agreed": "agre", "plastered": "plaster", "bled": "bled",
    "motoring": "motor", "sing": "sing", "conflated": "conflat",
    "troubled": "troubl", "sized": "size", "hopping": "hop", "tanned": "tan",
    "falling": "fall", "hissing": "hiss", "fizzed": "fizz", "failing": "fail",
    "filing": "file",
    # step 1c
    "happy": "happi", "sky": "sky",
    # step 2
    "relational": "relat", "conditional": "condit", "rational": "ration",
    "valenci": "valenc", "hesitanci": "hesit", "digitizer": "digit",
    "radicalli": "radic", "differentli": "differ", "vileli": "vile",
    "analogousli": "analog", "vietnamization": "vietnam",
    "predication": "predic", "operator": "oper", "feudalism": "feudal",
    "decisiveness": "decis", "hopefulness": "hope", "callousness": "callous",
    "formaliti": "formal", "sensitiviti": "sensit", "sensibiliti": "sensibl",
    # step 3
    "triplicate": "triplic", "formative": "form", "formalize": "formal",
    "electriciti": "electr", "electrical": "electr", "hopeful": "hope",
    "goodness": "good",
    # step 4
    "revival": "reviv", "allowance": "allow", "inference": "infer",
    "airliner": "airlin", "gyroscopic": "gyroscop", "adjustable": "adjust",
    "defensible": "defens", "irritant": "irrit", "replacement": "replac",
    "adjustment": "adjust", "dependent": "depend", "adoption": "adopt",
    "communism": "commun", "activate": "activ",
    # step 5
    "probate": "probat", "rate": "rate", "cease": "ceas", "controll": "control",
    "roll": "roll",
}


def test_porter_matches_published_examples():
    diverged = {
        w: (porter_stem(w), want)
        for w, want in PORTER_PAPER_EXAMPLES.items()
        if porter_stem(w) != want
    }
    assert not diverged, f"porter_stem diverges from the paper: {diverged}"


# ---------------------------------------------------------------------------
# 2. Golden labelN keys over the fixture corpus (labels from the reference's
#    efo_sample.json.gz + edge cases). Every expected key was hand-verified
#    against the Grounding.scala pipeline contract; this test freezes them
#    so any drift in tokenization / stop words / stemming breaks loudly.
# ---------------------------------------------------------------------------

GOLDEN = [
    # (label, expected keyType=LT key, expected keyType=TT key)
    ("optic nerve disease", "diseasnervoptic", "opticnervedisease"),
    ("adult lymphoma", "adultlymphoma", "adultlymphoma"),
    ("acral lentiginous melanoma (disease)",
     "acraldiseaslentiginmelanoma", "acrallentiginousmelanomadisease"),
    ("breast cancer", "breastcancer", "breastcancer"),
    ("nodal marginal zone B-cell lymphoma",
     "bcelllymphomamarginnodalzone", "nodalmarginalzonebcelllymphoma"),
    ("classic or attenuated familial adenomatous polyposis",
     "adenomatattenuclassicfamilipolyposi",
     "classicorattenuatedfamilialadenomatouspolyposis"),
    ("ependymal tumor of spinal cord",
     "cordependymspinaltumor", "ependymaltumorofspinalcord"),
    ("disease of visual system", "diseassystemvisual", "diseaseofvisualsystem"),
    ("hypertension, pregnancy-induced",
     "hypertensinducpregnanc", "hypertensionpregnancyinduced"),
    ("mitochondrial DNA depletion syndrome 19",
     "19depletdnamitochondrisyndrom", "mitochondrialdnadepletionsyndrome19"),
    ("paranasal sinus squamous cell carcinoma",
     "carcinomacellparanassinusquamou", "paranasalsinussquamouscellcarcinoma"),
    ("chronic lymphocytic leukemia",
     "chronicleukemialymphocyt", "chroniclymphocyticleukemia"),
    # case-sensitive stop removal: 'Stiff'/'Person' are NOT stop words
    ("Stiff-Person syndrome", "personstiffsyndrom", "stiffpersonsyndrome"),
    ("Microcystic Renal Disease", "diseasmicrocystrenal", "microcysticrenaldisease"),
    ("Wolfram-like syndrome", "likesyndromwolfram", "wolframlikesyndrome"),
    # greek translate THEN '-' split: α→a, then 'a' is a stop word (LT path);
    # the TT tokenizer does NOT split on '-', so 'tnfa' survives fused
    ("TNF-α induced arthritis", "arthritiinductnf", "tnfainducedarthritis"),
    # '/' splits on LT path only; digits survive normalization
    ("IL-6/STAT3 signalling activation",
     "6activilsignalstat3", "il6stat3signallingactivation"),
    # capitalized stop variants ('The') removed pre-lowercase on LT path,
    # kept (lowercased) on the un-stopped TT path
    ("The disease is not a syndrome", "diseassyndrom", "thediseaseisnotasyndrome"),
    ("tumor necrosis factor receptor-associated periodic syndrome",
     "associfactornecrosiperiodreceptorsyndromtumor",
     "tumornecrosisfactorreceptorassociatedperiodicsyndrome"),
    # 'between' is a Google-list stop word (reference) but not in the
    # engine default's shorter list
    ("pain between shoulder blades", "bladepainshoulder", "painbetweenshoulderblades"),
    # all-stopword label: empty LT key — the reference's generateKeysColumn
    # then filters the row out (length(key) > 0); apostrophe stripped on TT
    ("Aren't", "", "arent"),
]


def _default_pipeline_porter_key(c):
    """The default ``label_key`` pipeline with Porter in place of the
    regexp-chain stemmer, to separate stemmer divergences from the rest."""
    toks = porter_stem_tokens(remove_stopwords(tokenize(normalize(c))))
    return F.concat_ws(" ", F.sort_array(F.array_distinct(toks)))


@pytest.fixture(scope="module")
def keyed(spark):
    df = spark.createDataFrame([(label,) for label, _, _ in GOLDEN], ["label"])
    rows = df.select(
        "label",
        reference_label_key("label", "LT").alias("lt"),
        reference_label_key("label", "TT").alias("tt"),
        label_key("label").alias("default_key"),
        _default_pipeline_porter_key("label").alias("default_exact"),
    ).collect()
    return {r.label: r for r in rows}


def test_reference_labeln_keys_match_golden(keyed):
    diverged = []
    for label, want_lt, want_tt in GOLDEN:
        r = keyed[label]
        if r.lt != want_lt or r.tt != want_tt:
            diverged.append((label, (r.lt, want_lt), (r.tt, want_tt)))
    assert not diverged, f"labelN drift vs Grounding.scala contract: {diverged}"


def test_empty_label_keys_are_filterable(keyed):
    """The reference drops rows whose key is empty (Grounding.scala:399);
    the port must produce '' (not null) for all-stopword labels so the same
    filter applies."""
    assert keyed["Aren't"].lt == ""


# ---------------------------------------------------------------------------
# 3. Divergences of the engine default from the reference contract —
#    enumerated and pinned so they stay deliberate, not accidental.
# ---------------------------------------------------------------------------

def test_default_label_key_divergences_are_the_known_ones(keyed):
    """Default ``label_key`` vs reference LT key, by design:
    (1) space-joined rather than ''-joined (collision-safer),
    (2) shorter stop list (e.g. 'or' is NOT removed by the default),
    (3) punctuation becomes a token boundary rather than being deleted
        in place. With Porter swapped in, the stemmer itself is the same.
    """
    r = keyed["optic nerve disease"]
    # same tokens, different separator
    assert r.default_exact.replace(" ", "") == r.lt
    assert " " in r.default_exact

    r2 = keyed["pain between shoulder blades"]
    # 'between' survives the default's shorter stop list but not the
    # reference's Google list
    assert "between" in r2.default_exact.split(" ")
    assert "between" not in r2.lt

    # default regexp-chain stemmer is weaker than Porter: enumerate on the
    # corpus rather than assert equality
    weaker = {
        label: (k.default_key, k.default_exact)
        for label, k in keyed.items()
        if k.default_key != k.default_exact
    }
    # the S-stemmer chain and Porter agree on simple plurals but diverge on
    # derivational suffixes — at least the -ous/-ic/-al family in this corpus
    assert any("lymphocytic" in label for label in weaker), weaker


# ---------------------------------------------------------------------------
# 4. End-to-end grounding in reference key mode: LUT build + sentence
#    matching through the char-exact pipeline must ground inflected
#    surface forms to the right entity.
# ---------------------------------------------------------------------------

def test_literature_grounding_in_reference_key_mode(spark):
    from pyspark.sql import functions as F

    from platform_etl_backend_spark.steps.literature import (
        build_entity_lut,
        match_sentences,
    )

    entities = spark.createDataFrame(
        [
            ("EFO_1", "disease", "chronic lymphocytic leukemia", None, 1.0),
            ("EFO_2", "disease", "breast cancer", ["cancer of the breast"], 1.0),
            ("ENSG_1", "target", "tumor necrosis factor", None, 1.0),
        ],
        "id string, type string, name string, synonyms array<string>, priority double",
    )
    lut = build_entity_lut(entities, key_mode="reference")
    # synonym and name collapse to distinct keys; ''-joined, stemmed
    keys = {r.keywordId: r.labelN for r in lut.collect()}
    assert keys["EFO_1"] == "chronicleukemialymphocyt"

    sentences = spark.createDataFrame(
        [
            # inflected/stopworded surface forms of the LUT entries
            ("p1", "title", 0, "Chronic lymphocytic leukemias respond to therapy"),
            ("p2", "abstract", 0, "the cancers of the breasts were imaged"),
            ("p3", "abstract", 0, "tumor necrosis factors signal apoptosis"),
            ("p4", "abstract", 0, "unrelated cardiovascular sentence here"),
        ],
        "pmid string, section string, sentence_idx int, sentence string",
    )
    matches = match_sentences(sentences, lut, max_ngram=4, key_mode="reference")
    got = {(r.pmid, r.keywordId) for r in matches.collect()}
    assert ("p1", "EFO_1") in got
    assert ("p3", "ENSG_1") in got
    assert not any(p == "p4" for p, _ in got)
