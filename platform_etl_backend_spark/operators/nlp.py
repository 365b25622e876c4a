"""Text-normalization pipeline for entity grounding — the engine's port of
the reference's Spark-NLP stack (X7, the 'hardest port' in SURVEY §7.3).

Reference semantics (``literature/Grounding.scala:41-104``): DocumentAssembler
→ tokenizers (split chars) → Normalizer (lowercase + cleanup regex) →
StopWordsCleaner → Stemmer → Finisher, producing ``labelN`` join keys =
sorted-distinct-joined stemmed tokens (Grounding.scala:380-400).

This port keeps the whole pipeline in Catalyst (split/lower/regexp_replace/
filter/transform + a regexp_replace-chain suffix stemmer) — deterministic,
oracle-checkable, and zero Python boundary. The stemmer is an S-stemmer
with a few Porter-style rules: weaker than a full Porter implementation but
stable; swap in a pandas_udf Porter (or the spark-nlp wheel) when exact
Spark-NLP parity is required — the surrounding contract (labelN keys) is
unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Greek → latin-name normalization, as in Grounding.scala:148-150 (translate
# of single chars there; spelled-out here since labels arrive romanized too).
GREEK_MAP = {
    "α": "alpha", "β": "beta", "γ": "gamma", "δ": "delta", "ε": "epsilon",
    "κ": "kappa", "λ": "lambda", "σ": "sigma", "τ": "tau", "ω": "omega",
}

STOPWORDS = (
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such", "that",
    "the", "their", "then", "there", "these", "they", "this", "to", "was",
    "will", "with",
)

# (pattern, replacement) suffix rules applied in order — each token passes
# through the chain once (regexp_replace is anchored with $).
_STEM_RULES = (
    (r"sses$", "ss"),
    (r"ies$", "i"),
    (r"([^s])s$", r"$1"),
    (r"eed$", "ee"),
    (r"(at|bl|iz)ed$", r"$1e"),
    (r"ing$", ""),
    (r"ational$", "ate"),
    (r"fulness$", "ful"),
    (r"ousness$", "ous"),
)


def normalize(c: Column | str) -> Column:
    """lowercase + greek map + strip non-alphanumerics (Normalizer stage)."""
    c = F.col(c) if isinstance(c, str) else c
    out = F.lower(c)
    for greek, latin in GREEK_MAP.items():
        out = F.regexp_replace(out, greek, latin)
    return F.regexp_replace(out, r"[^a-z0-9 ]", " ")


def tokenize(c: Column) -> Column:
    """Split on whitespace runs, dropping empties (Tokenizer stage)."""
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")


def remove_stopwords(tokens: Column) -> Column:
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    return F.filter(tokens, lambda t: ~F.array_contains(sw, t))


def stem_token(t: Column) -> Column:
    """Suffix-stripping stemmer as a regexp_replace chain (Stemmer stage)."""
    out = t
    for pat, rep in _STEM_RULES:
        out = F.regexp_replace(out, pat, rep)
    return out


def stem(tokens: Column) -> Column:
    return F.transform(tokens, stem_token)


def label_key(c: Column | str) -> Column:
    """``labelN`` grounding join key: normalize → tokenize → de-stop → stem →
    sorted distinct → space-joined (Grounding.scala:380-400 contract), with
    the Catalyst regexp-chain stemmer. The char-exact Porter pipeline is
    ``reference_label_key``.
    """
    toks = stem(remove_stopwords(tokenize(normalize(c))))
    return F.concat_ws(" ", F.sort_array(F.array_distinct(toks)))


# ---------------------------------------------------------------------------
# Reference-exact grounding keys (X7 parity characterization).
# ---------------------------------------------------------------------------

# Google stop word list (public:
# https://meta.wikimedia.org/wiki/Stop_word_list/google_stop_word_list#English),
# the same source the reference cites for its grounding StopWordsCleaner
# (Grounding.scala:19-31).
GOOGLE_STOP_WORDS: tuple[str, ...] = tuple(
    (
        "about above after again against all am an and any are aren't as at be because "
        "been before being below between both but by can't cannot could couldn't did didn't do does doesn't doing don't down "
        "during each few for from further had hadn't has hasn't have haven't having he he'd he'll he's her here here's hers "
        "herself him himself his how how's i'd i'll i'm i've if in into is isn't it it's its itself let's me more most mustn't "
        "my myself no nor not of off on once only or other ought our ours ourselves out over own same shan't she she'd she'll "
        "she's should shouldn't so some such than that that's the their theirs them themselves then there there's these they "
        "they'd they'll they're they've this those through to too under until up very was wasn't we we'd we'll we're we've "
        "were weren't what what's when when's where where's which while who who's whom why why's with won't would wouldn't "
        "you you'd you'll you're you've your yours yourself yourselves"
    ).split(" ")
)

# allStopWords contract (Grounding.scala:30-31): "a", "i", the list, and the
# capitalized variants — matched CASE-SENSITIVELY on raw (pre-lowercase)
# tokens, because the reference's StopWordsCleaner runs before its Normalizer.
REFERENCE_STOP_WORDS: tuple[str, ...] = (
    ("a", "i") + GOOGLE_STOP_WORDS + tuple(w.capitalize() for w in GOOGLE_STOP_WORDS)
)

# normalise() greek→latin single-char translate (Grounding.scala:148-150).
GREEK_SRC = "αβγδεζηικλμνξπτυω"
GREEK_DST = "abgdezhiklmnxptuo"

# Tokenizer split chars (Grounding.scala:50-59): the label path splits on
# whitespace plus - / : , ; — the token path (tokenizerSymbol) on : , ; only.
_SPLIT_LT = r"[\s\-/:,;]+"
_SPLIT_TT = r"[\s:,;]+"


def reference_label_key(c: Column | str, key_type: str = "LT") -> Column:
    """Char-exact port of the reference's grounding join key.

    Pipeline parity (semantics from ``literature/Grounding.scala``; no code
    copied — the reference builds this from Spark-NLP annotators):

    - ``normalise`` greek→latin translate (:148-150),
    - Tokenizer with split chars (:50-59),
    - StopWordsCleaner, case-sensitive, BEFORE lowercasing (:67-71) —
      label path only,
    - Normalizer: strip ``[^\\w\\d\\s]``/``-``/``/`` then lowercase (:73-79),
    - Spark-NLP ``Stemmer`` == Porter → exact Porter pandas UDF
      (``operators/porter.py``) — label path only,
    - ``generateKeysColumn`` (:380-400): keyType LT = array_join of the
      SORTED DISTINCT non-empty stemmed tokens with NO separator; keyType
      TT = array_join of the non-empty normalized tokens, original order,
      not deduplicated, no separator.

    The engine's default ``label_key`` deliberately differs (space-joined,
    S-stemmer, small stop list) — this function exists to characterize
    parity against the reference contract; both sides of a grounding join
    must use the same variant.
    """
    from platform_etl_backend_spark.operators.porter import porter_stem_tokens

    c = F.col(c) if isinstance(c, str) else c
    nlabel = F.translate(c, GREEK_SRC, GREEK_DST)
    if key_type == "LT":
        toks = F.filter(F.split(nlabel, _SPLIT_LT), lambda t: t != "")
        sw = F.array(*[F.lit(w) for w in REFERENCE_STOP_WORDS])
        toks = F.filter(toks, lambda t: ~F.array_contains(sw, t))
        norm = F.transform(toks, lambda t: F.lower(F.regexp_replace(t, r"[^\w\d\s]", "")))
        stemmed = porter_stem_tokens(norm)
        return F.array_join(
            F.array_sort(F.filter(F.array_distinct(stemmed), lambda t: t != "")), ""
        )
    if key_type == "TT":
        toks = F.filter(F.split(nlabel, _SPLIT_TT), lambda t: t != "")
        norm = F.transform(toks, lambda t: F.lower(F.regexp_replace(t, r"[^\w\d\s]", "")))
        return F.array_join(F.filter(norm, lambda t: t != ""), "")
    raise ValueError(f"key_type must be LT or TT, got {key_type!r}")


def duckdb_label_key_sql(col: str) -> str:
    """The SAME pipeline as DuckDB SQL (oracle mirror, generated from the
    same rule tables)."""
    expr = f"lower({col})"
    for greek, latin in GREEK_MAP.items():
        expr = f"regexp_replace({expr}, '{greek}', '{latin}', 'g')"
    expr = f"regexp_replace({expr}, '[^a-z0-9 ]', ' ', 'g')"
    toks = f"list_filter(string_split_regex(trim({expr}), '\\s+'), t -> t <> '')"
    sw = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"
    toks = f"list_filter({toks}, t -> NOT list_contains({sw}, t))"
    stemmed = "t"
    for pat, rep in _STEM_RULES:
        duck_rep = rep.replace("$1", "\\1")
        stemmed = f"regexp_replace({stemmed}, '{pat}', '{duck_rep}')"
    toks = f"list_transform({toks}, t -> {stemmed})"
    return f"array_to_string(list_sort(list_distinct({toks})), ' ')"
