"""Flat-file sources the reference parses outside Spark readers.

- OBO ontology files (``[Term]`` stanzas) — reference parses on the driver
  (preprocess/go/GoConverter.scala:24-44); same shape here (ontology files
  are tiny), yielding a DataFrame.
- UniprotKB-style record-delimited text — the reference streams the WHOLE
  file through the driver (Target.scala:453-472 toLocalIterator + ~350 LoC
  of Scala parsing). This port distributes it: Spark's text source with a
  custom ``lineSep`` splits records in parallel and all field extraction is
  Catalyst expressions over line arrays — the 100TB-safe design the
  reference lacks.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def parse_obo(path: str) -> Iterator[dict]:
    """Yield {id, name, is_a: [..], obsolete} per [Term] stanza."""
    term = None
    with open(path, "r", encoding="utf-8") as fh:
        for raw in fh:
            line = raw.strip()
            if line == "[Term]":
                if term and "id" in term:
                    yield term
                term = {"is_a": [], "obsolete": False}
            elif line.startswith("[") and line.endswith("]"):
                if term and "id" in term:
                    yield term
                term = None
            elif term is not None and ": " in line:
                key, _, val = line.partition(": ")
                if key == "id":
                    term["id"] = val
                elif key == "name":
                    term["name"] = val
                elif key == "is_a":
                    term["is_a"].append(val.split(" !")[0].strip())
                elif key == "is_obsolete" and val == "true":
                    term["obsolete"] = True
    if term and "id" in term:
        yield term


def read_obo(spark: SparkSession, path: str) -> DataFrame:
    """OBO → DataFrame(id, name, is_a array, obsolete) (driver-side parse,
    like the reference — ontologies are small by nature)."""
    rows = [
        (t.get("id"), t.get("name"), t.get("is_a", []), t.get("obsolete", False))
        for t in parse_obo(path)
    ]
    return spark.createDataFrame(
        rows, "id: string, name: string, is_a: array<string>, obsolete: boolean"
    )


def read_delimited_records(
    spark: SparkSession, path: str, delimiter: str = "//\n"
) -> DataFrame:
    """Distributed record-delimited text reader: one row per record.

    Spark's text source with ``lineSep`` set to the record delimiter, so a
    single multi-GB flat file still splits across executors and no record
    passes through a Python worker. Empty and spaces-only records are
    dropped.
    """
    return (
        spark.read.text(path, lineSep=delimiter)
        .withColumnRenamed("value", "record")
        .where(F.length(F.trim("record")) > 0)
    )


# DR databases of interest (preprocess/uniprot/DbIdentifiers.scala:17-36)
UNIPROT_DBS = ("ChEMBL;", "DrugBank;", "PDB;", "Ensembl;", "GO;", "InterPro;", "Reactome;")

# DE prefixes (DescriptionIdentifiers.scala:10-13)
_DE_RECOMMENDED = "RecName: Full"
_DE_ALTERNATIVE = "AltName: Full"
_DE_SYMBOLS = ("AltName: CD_antigen", "Short")

# GN keys (GeneIdentifiers.scala:10-13)
_GN_KEYS = ("Name", "Synonyms", "ORFNames")


def _de_values(de_lines, keys: tuple[str, ...]):
    """DE lines whose key (before the first '=') is in ``keys`` → all '='-
    separated values, ';'-stripped (DescriptionIdentifiers.scala:23-37)."""
    key_arr = F.array(*[F.lit(k) for k in keys])
    kept = F.filter(
        de_lines,
        lambda l: l.contains("=")
        & F.array_contains(key_arr, F.trim(F.element_at(F.split(l, "="), 1))),
    )
    return F.flatten(
        F.transform(
            kept,
            lambda l: F.transform(
                F.slice(F.split(l, "="), 2, 100),
                lambda v: F.trim(F.regexp_replace(F.trim(v), ";$", "")),
            ),
        )
    )


def parse_uniprot_records(records: DataFrame) -> DataFrame:
    """UniprotKB flat-file → structured UniprotEntry rows, all in Catalyst.

    Reference semantics (preprocess/uniprot/UniprotConverter.scala:51-95 +
    its Line/Description/Gene/Comment/Db identifier traits), distributed:
    per-line evidence-brace stripping, ID first token, AC split, DE name
    classification (RecName/AltName/CD_antigen/Short), GN symbol extraction
    (Name/Synonyms/ORFNames), DR db-of-interest xrefs as 'DB ID' strings,
    CC comment concatenation split on '-!-' with the FUNCTION /
    SUBCELLULAR LOCATION partition and location sentence cleanup.

    Kept divergence (documented): accession tokens are trimmed here; the
    reference keeps the post-';' leading space and relies on downstream
    trims. Raw line-group columns (descriptions/gene_lines/db_refs/
    comment_lines) stay exposed for debugging parity.
    """
    lines = F.split(F.col("record"), "\n")

    def lines_with(prefix: str, strip_braces: bool = True):
        stripped = lambda l: F.trim(F.substring(l, 6, 100_000))  # noqa: E731
        if strip_braces:
            # UniprotConverter.scala:62-64: evidence braces removed per line
            strip = lambda l: F.trim(  # noqa: E731
                F.regexp_replace(stripped(l), r"\{.*\}", "")
            )
        else:
            strip = stripped
        return F.transform(
            F.filter(lines, lambda l: l.startswith(prefix + "   ")), strip
        )

    entry_name = F.element_at(
        F.split(F.element_at(F.filter(lines, lambda l: l.startswith("ID   ")), 1), "\\s+"),
        2,
    )
    accessions = F.flatten(
        F.transform(
            lines_with("AC"),
            lambda l: F.filter(
                F.transform(F.split(l, ";"), lambda x: F.trim(x)), lambda x: x != ""
            ),
        )
    )

    de_lines = lines_with("DE")
    names = _de_values(de_lines, (_DE_RECOMMENDED,))
    synonyms = _de_values(de_lines, (_DE_ALTERNATIVE,))
    de_symbols = _de_values(de_lines, _DE_SYMBOLS)

    # GN: join lines, split ';', keep Name/Synonyms/ORFNames keys, split ','
    gn_parts = F.filter(
        F.transform(
            F.split(F.concat_ws(" ", lines_with("GN")), ";"), lambda p: F.trim(p)
        ),
        lambda p: (p != "")
        & F.array_contains(
            F.array(*[F.lit(k) for k in _GN_KEYS]), F.element_at(F.split(p, "="), 1)
        ),
    )
    gene_symbols = F.flatten(
        F.transform(
            gn_parts,
            lambda p: F.transform(
                F.flatten(
                    F.transform(
                        F.slice(F.split(p, "="), 2, 100), lambda v: F.split(v, ",")
                    )
                ),
                lambda s: F.trim(F.regexp_replace(F.trim(s), ";$", "")),
            ),
        )
    )

    db_refs = lines_with("DR")
    db_arr = F.array(*[F.lit(db) for db in UNIPROT_DBS])
    db_xrefs = F.transform(
        F.filter(
            db_refs,
            lambda l: F.exists(db_arr, lambda db: l.startswith(db)),
        ),
        lambda l: F.concat_ws(
            " ",
            F.transform(
                F.slice(F.split(l, " "), 1, 2),
                lambda x: F.substring(x, 1, F.length(x) - 1),
            ),
        ),
    )

    # CC: stop at the license footer, then fold continuation lines into
    # whole comments split on '-!-' (CommentIdentifiers.scala:108-131)
    cc_raw = lines_with("CC", strip_braces=True)
    # array_position yields 0 when no footer line exists
    footer_pos = F.array_position(
        F.transform(cc_raw, lambda l: l.startswith("----")), F.lit(True)
    )
    footer_idx = F.when(footer_pos == 0, F.size(cc_raw) + 1).otherwise(footer_pos)
    cc_cut = F.slice(cc_raw, 1, (footer_idx - 1).cast("int"))
    comments = F.filter(
        F.expr(
            """
            aggregate(
              _cc_cut,
              struct(cast(array() as array<string>) as done, '' as buf),
              (acc, l) -> IF(
                l like '-!-%',
                struct(concat(acc.done, array(acc.buf)) as done,
                       trim(substring(l, 4, 100000)) as buf),
                struct(acc.done as done, concat(acc.buf, ' ', l) as buf)),
              acc -> concat(acc.done, array(acc.buf)))
            """
        ),
        lambda c: (c != "")
        & (
            (F.substring(F.lit("FUNCTION"), F.lit(1), F.length(F.regexp_extract(c, "^[A-Z]+", 0)))
             == F.regexp_extract(c, "^[A-Z]+", 0))
            | (
                F.substring(
                    F.lit("SUBCELLULAR LOCATION"),
                    F.lit(1),
                    F.length(F.regexp_extract(c, "^[A-Z]+", 0)),
                )
                == F.regexp_extract(c, "^[A-Z]+", 0)
            )
        ),
    )

    functions = F.transform(
        F.filter(F.col("_comments"), lambda c: c.startswith("FUNCTION")),
        lambda c: F.substring(c, len("FUNCTION: ") + 1, 100_000),
    )
    # parseLocations (CommentIdentifiers.scala:70-92): pre-Note= text, refs
    # removed, '[Isoform A.1]:' standardized to '[Isoform A-1]:', sentences
    loc_body = lambda c: F.element_at(  # noqa: E731
        F.split(F.substring(c, len("SUBCELLULAR LOCATION: ") + 1, 100_000), "Note="), 1
    )
    locations = F.flatten(
        F.transform(
            F.filter(F.col("_comments"), lambda c: c.startswith("SUBCELLULAR LOCATION")),
            lambda c: F.filter(
                F.transform(
                    F.split(
                        F.regexp_replace(
                            F.regexp_replace(loc_body(c), r"\{.+?\}", ""),
                            r"^\[Isoform ([A-Z])\.([0-9])\](:.+)$",
                            r"[Isoform $1-$2]$3",
                        ),
                        r"\.",
                    ),
                    lambda s: F.trim(s),
                ),
                lambda s: (s != "") & ~s.startswith("Note="),
            ),
        )
    )

    return (
        records.select(
            entry_name.alias("entry_name"),
            accessions.alias("accessions"),
            names.alias("names"),
            synonyms.alias("synonyms"),
            # reference concatenates without dedup (UniprotConverter.scala:86)
            F.concat(gene_symbols, de_symbols).alias("symbolSynonyms"),
            db_xrefs.alias("dbXrefs"),
            de_lines.alias("descriptions"),
            lines_with("GN").alias("gene_lines"),
            db_refs.alias("db_refs"),
            cc_cut.alias("_cc_cut"),
        )
        .withColumn("_comments", comments)
        .withColumn("functions", functions)
        .withColumn("locations", locations)
        .withColumnRenamed("_cc_cut", "comment_lines")
        .drop("_comments")
        .where(F.col("entry_name").isNotNull())
    )
