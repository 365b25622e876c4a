"""Seeded generator of raw Open Targets step inputs.

Writes the text files the 11 reference steps read (headerless TSV for
reactome, OBO for go, CSV for otar, wide TSV for expression, JSON lines for
target / interaction / openfda / literature / search / search_ebi /
search_facet) and returns the ``run_steps`` config that wires them.

Key popularity is Zipf-skewed (interactions per protein, reports per drug,
entity mentions per sentence, associations per target) so the steps'
shuffles see hot keys. The same ``(seed, genes)`` always writes
byte-identical files: every value comes from one ``random.Random(seed)``
and rows are written in generation order.

Scores are multiples of 1/1024 so that sums and means are exact in binary
floating point and the output digests do not depend on summation order.
"""

from __future__ import annotations

import bisect
import csv
import itertools
import json
import os
import random

WORDS = (
    "kinase receptor binding factor domain protein channel transporter "
    "signal regulator membrane nuclear repair growth cell immune response "
    "metabolic pathway complex subunit activity transcription"
).split()
FILLER = (
    "we observed that in patients the levels of were elevated after treatment "
    "with and this study shows a role for expression was reduced compared to "
    "controls suggesting association between"
).split()
TISSUES = (
    "adipose tissue", "adrenal gland", "bone marrow", "brain", "breast",
    "colon", "esophagus", "heart muscle", "kidney", "liver", "lung",
    "lymph node", "ovary", "pancreas", "placenta", "prostate", "skeletal muscle",
    "skin", "small intestine", "spleen", "stomach", "testis", "thyroid gland",
    "tonsil",
)
CELL_TYPES = ("glandular cells", "endothelial cells", "fibroblasts", "neurons",
              "hepatocytes", "immune cells")
LEVELS = ("High", "Medium", "Low", "Not detected", "N/A", "Not representative")
RELIABILITY = ("Approved", "Supported", "Enhanced", "Uncertain", "Supportive")
CHROMOSOMES = tuple([str(i) for i in range(1, 23)] + ["X", "Y", "MT"])
SOURCES = ("intact", "reactome", "signor", "string")
ROLES = ("unspecified", "enzyme", "enzyme target", "inhibitor")
ASPECTS = ("P", "F", "C")
LOCATIONS = ("nucleus", "cytosol", "plasma membrane", "mitochondrion", "golgi")
TARGET_CLASSES = ("Enzyme", "Kinase", "Transporter", "Ion channel", "GPCR")
MODALITIES = (("SM", "High-Quality Pocket"), ("AB", "Surface"),
              ("PR", "Ubiquitination"), ("OC", "Approved Drug"))


class Zipf:
    """Draws ranks 0..n-1 with P(rank r) proportional to 1/(r+1)^s."""

    def __init__(self, rng: random.Random, n: int, s: float = 1.1):
        self.rng = rng
        self.cum = list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(n)))

    def __call__(self) -> int:
        return bisect.bisect_left(self.cum, self.rng.random() * self.cum[-1])


def _score(rng: random.Random) -> float:
    return rng.randint(1, 1024) / 1024


def _jsonl(path: str, rows) -> None:
    with open(path, "w", encoding="utf-8", newline="\n") as fh:
        for row in rows:
            fh.write(json.dumps(row, sort_keys=True, separators=(",", ":")) + "\n")


def _delimited(path: str, rows, sep: str, header=None) -> None:
    with open(path, "w", encoding="utf-8", newline="") as fh:
        w = csv.writer(fh, delimiter=sep, lineterminator="\n")
        if header:
            w.writerow(header)
        w.writerows(rows)


def _dag_parents(rng: random.Random, n: int, roots: int, multi: float) -> list[list[int]]:
    """Parents per node of an acyclic graph: every parent index is smaller
    than its child, popular (low) indices draw more children, and a
    ``multi`` share of nodes gets a second parent."""
    parents: list[list[int]] = []
    for k in range(n):
        if k < roots:
            parents.append([])
            continue
        pick = Zipf(rng, k, 0.8) if k < 64 else None
        first = pick() if pick else min(int(k * rng.random() ** 2), k - 1)
        ps = [first]
        if rng.random() < multi:
            second = rng.randrange(k)
            if second != first:
                ps.append(second)
        parents.append(ps)
    return parents


def _ancestors(parents: list[list[int]]) -> list[list[int]]:
    anc: list[set[int]] = []
    for ps in parents:
        s: set[int] = set()
        for p in ps:
            s.add(p)
            s |= anc[p]
        anc.append(s)
    return [sorted(a) for a in anc]


def write_ot_inputs(root: str, seed: int, genes: int, interaction_files: int) -> dict:
    """Write every raw input under ``root``; return the step config tree
    (``{"steps": {...}}``) reading them and writing parquet under
    ``root/out``. Sizes scale with ``genes``; ``interaction_files`` is the
    file count of the interaction step's range-clustered outputs."""
    rng = random.Random(seed)
    raw = os.path.join(root, "raw")
    out = os.path.join(root, "out")
    os.makedirs(raw, exist_ok=True)
    p = lambda name: os.path.join(raw, name)  # noqa: E731

    n_go = max(50, genes // 4)
    n_path = max(40, genes // 10)
    n_dis = max(40, genes // 5)
    n_drug = max(20, genes // 25)
    gene_ids = [f"ENSG{i:011d}" for i in range(genes)]
    symbols = [f"SYM{i}" for i in range(genes)]
    proteins = [f"P{i:05d}" for i in range(genes)]
    gene_pick = Zipf(rng, genes)

    # -- go: OBO stanzas with obsolete terms -------------------------------
    go_parents = _dag_parents(rng, n_go, 3, 0.1)
    go_ids = [f"GO:{k:07d}" for k in range(n_go)]
    go_names = [f"{rng.choice(WORDS)} {rng.choice(WORDS)} process {k}" for k in range(n_go)]
    obsolete = {k for k in range(n_go) if k >= 3 and rng.random() < 0.05}
    with open(p("go.obo"), "w", encoding="utf-8", newline="\n") as fh:
        fh.write("format-version: 1.2\ndata-version: releases/bench\n\n")
        for k in range(n_go):
            fh.write(f"[Term]\nid: {go_ids[k]}\nname: {go_names[k]}\n"
                     f"namespace: biological_process\n")
            for q in go_parents[k]:
                fh.write(f"is_a: {go_ids[q]} ! {go_names[q]}\n")
            if k in obsolete:
                fh.write("is_obsolete: true\n")
            fh.write("\n")
        fh.write("[Typedef]\nid: part_of\nname: part of\n")
    live_go = [k for k in range(n_go) if k not in obsolete]
    go_pick = Zipf(rng, len(live_go))

    # -- reactome: headerless TSV, acyclic, with non-human pathways --------
    path_parents = _dag_parents(rng, n_path, 4, 0.08)
    species = ["Homo sapiens" if rng.random() < 0.85 else
               rng.choice(("Mus musculus", "Rattus norvegicus")) for _ in range(n_path)]
    path_ids = [f"R-HSA-{100000 + k}" for k in range(n_path)]
    path_names = [f"{rng.choice(WORDS).title()} {rng.choice(WORDS)} {k}" for k in range(n_path)]
    _delimited(p("reactome_pathways.tsv"),
               [(path_ids[k], path_names[k], species[k]) for k in range(n_path)], "\t")
    _delimited(p("reactome_relations.tsv"),
               [(path_ids[q], path_ids[k]) for k in range(n_path) for q in path_parents[k]],
               "\t")

    # -- target: Ensembl genes, HGNC, gene->GO, gene->pathway --------------
    ensembl, hgnc, gene_go, gene_path, targets_annot = [], [], [], [], []
    for i in range(genes):
        sym = symbols[i] if rng.random() > 0.05 else symbols[gene_pick()]
        chrom = (rng.choice(CHROMOSOMES) if rng.random() < 0.9
                 else f"CHR_PATCH_{rng.randrange(20)}")
        start = rng.randrange(1, 200_000_000)
        row = {
            "id": gene_ids[i],
            "biotype": rng.choice(("protein_coding",) * 6 + ("lncRNA", "TEC", "miRNA")),
            "description": f"{sym} {rng.choice(WORDS)} {rng.choice(WORDS)} "
                           f"[Source:HGNC Symbol;Acc:HGNC:{i}]",
            "chromosome": chrom,
            "start": start,
            "end": start + rng.randrange(500, 200_000),
            "strand": rng.choice((1, -1)),
            "approvedSymbol": sym,
            "uniprot_swissprot": [proteins[i]],
        }
        if rng.random() < 0.5:
            row["uniprot_trembl"] = [f"A0A{i:06d}{t}" for t in range(rng.randint(1, 2))]
        ensembl.append(row)
        if rng.random() < 0.9:
            hgnc.append({
                "ensembl_gene_id": gene_ids[i],
                "hgnc_id": f"HGNC:{i}",
                "alias_symbol": [f"{sym}L{t}" for t in range(rng.randint(0, 2))],
                "alias_name": [f"{rng.choice(WORDS)} like {t}" for t in range(rng.randint(1, 2))],
                "uniprot_ids": [proteins[i]],
            })
        gos = {live_go[go_pick()] for _ in range(rng.randint(0, 4))}
        for k in sorted(gos):
            gene_go.append({"ensemblId": gene_ids[i], "goId": go_ids[k],
                            "aspect": rng.choice(ASPECTS)})
        paths = {rng.randrange(n_path) for _ in range(rng.randint(0, 2))}
        for k in sorted(paths):
            gene_path.append({"ensemblId": gene_ids[i], "pathwayId": path_ids[k],
                              "pathway": path_names[k]})
        targets_annot.append({
            "id": gene_ids[i],
            "approvedSymbol": sym,
            "approvedName": f"{sym} {rng.choice(WORDS)}",
            "subcellularLocations": [
                {"location": loc, "source": "HPA", "termSl": f"SL-{LOCATIONS.index(loc):04d}"}
                for loc in sorted({rng.choice(LOCATIONS) for _ in range(rng.randint(0, 2))})],
            "targetClass": [{"label": c, "level": "l1"}
                            for c in sorted({rng.choice(TARGET_CLASSES)
                                             for _ in range(rng.randint(0, 1))})],
            "pathways": [{"pathway": path_names[k], "pathwayId": path_ids[k]}
                         for k in sorted(paths)],
            "go": [{"id": go_ids[k], "aspect": rng.choice(ASPECTS)} for k in sorted(gos)],
            "tractability": [{"modality": m, "id": t, "value": rng.random() < 0.3}
                             for m, t in MODALITIES if rng.random() < 0.5],
        })
    _jsonl(p("ensembl.jsonl"), ensembl)
    _jsonl(p("hgnc.jsonl"), hgnc)
    _jsonl(p("gene_go.jsonl"), gene_go)
    _jsonl(p("gene_pathway.jsonl"), gene_path)
    _jsonl(p("targets_annotated.jsonl"), targets_annot)

    # -- diseases (shared by otar, search, search_facet) + otar CSVs -------
    dis_parents = _dag_parents(rng, n_dis, 8, 0.15)
    dis_anc = _ancestors(dis_parents)
    dis_ids = [f"EFO_{k:07d}" for k in range(n_dis)]
    dis_names = [f"{rng.choice(WORDS)} {rng.choice(('carcinoma', 'syndrome', 'disease', 'disorder'))} {k}"
                 for k in range(n_dis)]
    diseases = []
    for k in range(n_dis):
        tas = [dis_ids[a] for a in dis_anc[k] if a < 8] or [dis_ids[k]]
        diseases.append({
            "id": dis_ids[k], "name": dis_names[k],
            "description": f"A {dis_names[k]} affecting the {rng.choice(TISSUES)}.",
            "synonyms": [f"{dis_names[k]} type {t}" for t in range(rng.randint(0, 2))],
            "ancestors": [dis_ids[a] for a in dis_anc[k]],
            "therapeuticAreas": tas,
        })
    _jsonl(p("diseases.jsonl"), diseases)
    n_otar = max(10, n_dis // 8)
    _delimited(p("otar_meta.csv"), [
        (f"OTAR{o:03d}", f"Project {o} {rng.choice(WORDS)}",
         rng.choice(("Active", "Closed")), rng.choice(("yes", "")))
        for o in range(n_otar)
    ], ",", ["otar_code", "project_name", "project_status", "integrates_in_PPP"])
    _delimited(p("otar_project_to_efo.csv"), [
        (f"OTAR{o:03d}", dis_ids[d])
        for o in range(n_otar) for d in sorted({rng.randrange(n_dis) for _ in range(rng.randint(1, 5))})
    ], ",", ["otar_code", "efo_disease_id"])

    # -- expression: HPA normal tissue + three wide matrices ---------------
    tissue_ids = [t.replace(" ", "_") for t in TISSUES]
    expr_genes = gene_ids[: max(20, genes // 2)]
    _delimited(p("normal_tissue.tsv"), [
        (g, t.title(), rng.choice(CELL_TYPES), rng.choice(LEVELS), rng.choice(RELIABILITY))
        for g in expr_genes for t in TISSUES if rng.random() < 0.3
    ], "\t", ["Gene", "Tissue", "Cell type", "Level", "Reliability"])
    for name, value in (("rna", lambda: f"{rng.randrange(0, 50000) / 100:.2f}"),
                        ("binned", lambda: str(rng.randint(0, 5))),
                        ("zscore", lambda: str(rng.randint(-1, 4)))):
        _delimited(p(f"{name}_expression.tsv"),
                   [[g] + [value() for _ in tissue_ids] for g in expr_genes],
                   "\t", ["ID"] + tissue_ids)
    _jsonl(p("tissue_efo_map.jsonl"), [
        {"tissue_id": t, "efo_code": f"UBERON_{1000000 + k:07d}", "label": TISSUES[k],
         "anatomical_systems": [rng.choice(("digestive", "nervous", "immune", "endocrine"))],
         "organs": [f"{TISSUES[k]} organ"]}
        for k, t in enumerate(tissue_ids) if rng.random() < 0.8
    ])
    _delimited(p("tissue_translation.tsv"),
               [(t, TISSUES[k]) for k, t in enumerate(tissue_ids)], "\t")

    # -- interaction: Zipf interactions per protein ------------------------
    interactions = []
    for _ in range(genes * 6):
        a, b = proteins[gene_pick()], proteins[gene_pick()]
        if rng.random() < 0.05:
            b = f"Q{rng.randrange(10**5):05d}_UNMAPPED"
        src = rng.choice(SOURCES)
        pair_rng = random.Random(f"{seed}:{min(a, b)}:{max(a, b)}:{src}")
        interactions.append({
            "intA": a + rng.choice(("", "", "-2", "_HUMAN")), "intA_source": "uniprot",
            "speciesA": "human", "intB": b, "intB_source": "uniprot", "speciesB": "human",
            "sourceDatabase": src, "interactionScore": _score(pair_rng),
            "evidencesList": [f"EBI-{rng.randrange(10**7)}" for _ in range(rng.randint(1, 3))],
            "intABiologicalRole": pair_rng.choice(ROLES),
            "intBBiologicalRole": pair_rng.choice(ROLES),
        })
    _jsonl(p("interactions.jsonl"), interactions)
    _jsonl(p("protein_mapping.jsonl"),
           [{"gene_id": gene_ids[i], "mapped_id": proteins[i]} for i in range(genes)])

    # -- openfda: FAERS-shaped rows, Zipf reports per drug, blacklist ------
    drug_names = [f"{rng.choice(WORDS)}mab {d}" for d in range(n_drug)]
    reactions = [f"{rng.choice(WORDS)} {rng.choice(('pain', 'rash', 'nausea', 'failure'))} {r}"
                 for r in range(max(30, n_drug * 2))]
    drug_pick, reaction_pick = Zipf(rng, n_drug), Zipf(rng, len(reactions), 0.9)
    # Each drug over-reports one signature reaction, so the significant
    # output (llr above the Monte-Carlo critical value) is not empty.
    signature = [rng.randrange(len(reactions)) for _ in range(n_drug)]
    fda = []
    for rep in range(genes * 3):
        for _ in range(rng.randint(1, 3)):
            k = drug_pick()
            d = drug_names[k]
            for _ in range(rng.randint(1, 2)):
                r = signature[k] if rng.random() < 0.4 else reaction_pick()
                fda.append({"safetyreportid": f"{10_000_000 + rep}",
                            "drug_name": rng.choice((d, d.upper(), f" {d} ")),
                            "reaction": reactions[r]})
    _jsonl(p("faers.jsonl"), fda)
    _delimited(p("drug_list.csv"), [(d,) for d in drug_names if rng.random() < 0.9],
               ",", ["drug_name"])
    _delimited(p("blacklist.csv"), [(r,) for r in reactions[:: max(1, len(reactions) // 5)]],
               ",", ["reactions"])

    # -- literature: entities + publications, Zipf mentions per sentence ---
    entities = (
        [{"id": gene_ids[i], "type": "target", "name": symbols[i],
          "synonyms": [f"{symbols[i]} protein"], "priority": 1.0} for i in range(genes)]
        + [{"id": dis_ids[k], "type": "disease", "name": dis_names[k], "priority": 1.0}
           for k in range(n_dis)]
        + [{"id": f"CHEMBL{d}", "type": "drug", "name": drug_names[d], "priority": 0.5}
           for d in range(n_drug)]
    )
    _jsonl(p("entities.jsonl"), entities)
    ent_pick = Zipf(rng, len(entities), 1.0)
    pubs = []
    for pm in range(max(20, genes // 2)):
        for section in ("title", "abstract", "body"):
            sentences = []
            for _ in range(1 if section == "title" else rng.randint(2, 5)):
                words = [rng.choice(FILLER) for _ in range(rng.randint(4, 10))]
                for _ in range(min(4, int(rng.paretovariate(1.5)))):
                    words.insert(rng.randrange(len(words) + 1), entities[ent_pick()]["name"])
                sentences.append(" ".join(words).capitalize() + ".")
            pubs.append({"pmid": f"PMID{pm}", "section": section, "text": " ".join(sentences)})
    _jsonl(p("publications.jsonl"), pubs)

    # -- search / search_ebi: associations and evidence --------------------
    dis_pick = Zipf(rng, n_dis, 0.9)
    assoc = {}
    for _ in range(genes * 4):
        assoc[(gene_ids[gene_pick()], dis_ids[dis_pick()])] = _score(rng)
    _jsonl(p("associations.jsonl"), [
        {"targetId": t, "diseaseId": d, "score": s} for (t, d), s in assoc.items()])
    _jsonl(p("associations_overall.jsonl"), [
        {"targetId": t, "diseaseId": d, "associationScore": s} for (t, d), s in assoc.items()])
    keys = list(assoc)
    evidence = []
    for _ in range(genes * 3):
        t, d = keys[rng.randrange(len(keys))]
        row = {"targetId": t, "diseaseId": d, "score": _score(rng)}
        if rng.random() < 0.4:
            row["drugId"] = f"CHEMBL{drug_pick()}"
        evidence.append(row)
    _jsonl(p("evidence.jsonl"), evidence)

    return ot_config(raw, out, interaction_files)


def _in(fmt: str, path: str, **options) -> dict:
    return {"format": fmt, "path": path, "options": options}


def ot_config(raw: str, out: str, interaction_files: int) -> dict:
    """Step config tree: raw inputs under ``raw``, parquet outputs under
    ``out``. ``target`` and ``go`` outputs are fed forward to the search
    steps, as the reference reads ``output/...`` paths."""
    from platform_etl_backend_spark.steps.interaction import interaction_output_configs

    p = lambda name: os.path.join(raw, name)  # noqa: E731
    o = lambda step, name: os.path.join(out, step, name)  # noqa: E731
    tsv = {"sep": "\t", "header": "false"}
    tsv_h = {"sep": "\t", "header": "true"}
    csv_h = {"header": "true"}

    def outputs(step: str, *names: str) -> dict:
        return {n: {"format": "parquet", "path": o(step, n), "write_mode": "overwrite"}
                for n in names}

    inter_out = {
        name: {"format": c.format, "path": c.path, "write_mode": c.write_mode,
               "coalesce": c.coalesce, "range_partition_by": list(c.range_partition_by),
               "range_partitions": c.range_partitions}
        for name, c in interaction_output_configs(os.path.join(out, "interaction"),
                                                    interaction_files).items()
    }
    steps = {
        "reactome": {
            "input": {"pathways": _in("csv", p("reactome_pathways.tsv"), **tsv),
                      "relations": _in("csv", p("reactome_relations.tsv"), **tsv)},
            "output": outputs("reactome", "reactome"),
        },
        "go": {"input": {"go_terms": _in("obo", p("go.obo"))}, "output": outputs("go", "go")},
        "target": {
            "input": {"ensembl": _in("json", p("ensembl.jsonl")),
                      "hgnc": _in("json", p("hgnc.jsonl")),
                      "go": _in("json", p("gene_go.jsonl")),
                      "reactome": _in("json", p("gene_pathway.jsonl"))},
            "output": outputs("target", "target"),
        },
        "otar": {
            "input": {"diseases": _in("json", p("diseases.jsonl")),
                      "otar_meta": _in("csv", p("otar_meta.csv"), **csv_h),
                      "otar_project_to_efo": _in("csv", p("otar_project_to_efo.csv"), **csv_h)},
            "output": outputs("otar", "otar_projects"),
        },
        "expression": {
            "input": {"tissues": _in("csv", p("normal_tissue.tsv"), **tsv_h),
                      "rna": _in("csv", p("rna_expression.tsv"), **tsv_h),
                      "binned": _in("csv", p("binned_expression.tsv"), **tsv_h),
                      "zscore": _in("csv", p("zscore_expression.tsv"), **tsv_h),
                      "efomap": _in("json", p("tissue_efo_map.jsonl")),
                      "exprmap": _in("csv", p("tissue_translation.tsv"), **tsv)},
            "output": outputs("expression", "expressions"),
        },
        "interaction": {
            "input": {"interactions": _in("json", p("interactions.jsonl")),
                      "mapping": _in("json", p("protein_mapping.jsonl"))},
            "output": inter_out,
        },
        "openfda": {
            "input": {"fda_events": _in("json", p("faers.jsonl")),
                      "drug_list": _in("csv", p("drug_list.csv"), **csv_h),
                      "blacklist": _in("csv", p("blacklist.csv"), **csv_h)},
            "output": outputs("openfda", "unfiltered", "significant"),
        },
        "literature": {
            "input": {"entities": _in("json", p("entities.jsonl")),
                      "publications": _in("json", p("publications.jsonl"))},
            "output": outputs("literature", "matches", "relevance", "cooccurrences"),
        },
        "search": {
            "input": {"targets": _in("parquet", o("target", "target")),
                      "diseases": _in("json", p("diseases.jsonl")),
                      "associations": _in("json", p("associations.jsonl")),
                      "evidence": _in("json", p("evidence.jsonl"))},
            "output": outputs("search", "search_target", "search_disease",
                              "associations_with_drugs"),
        },
        "search_ebi": {
            "input": {"target": _in("parquet", o("target", "target")),
                      "disease": _in("json", p("diseases.jsonl")),
                      "association": _in("json", p("associations_overall.jsonl")),
                      "evidence": _in("json", p("evidence.jsonl"))},
            "output": outputs("search_ebi", "ebisearchAssociations", "ebisearchEvidence"),
        },
        "search_facet": {
            "input": {"targets": _in("json", p("targets_annotated.jsonl")),
                      "go": _in("parquet", o("go", "go")),
                      "diseases": _in("json", p("diseases.jsonl"))},
            "output": outputs("search_facet", "facets_target", "facets_disease"),
        },
    }
    return {"steps": steps}


# Dependency order: target, go and reactome before the search steps that
# read their outputs.
STEP_ORDER = ("reactome", "go", "target", "otar", "expression", "interaction",
              "openfda", "literature", "search", "search_ebi", "search_facet")
