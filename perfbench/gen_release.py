"""Seeded VCV XML releases for the nightly workload, plus the counters
the chain must produce on them.

``make_night(seed, n_base)`` builds two releases from one seed:

- release k-1 (the previous night): ``n_base`` simple records plus a
  few genotype, haplotype and multi-allele records;
- release k (tonight): k-1 with ~3% of the simple records removed,
  ~15% edited and ~25% new records added.

Records vary in variant type (SNV, insertion, deletion, duplication,
indel), carry one or two Zipf-drawn genes, GRCh37 and GRCh38
positions, several submissions (SCVs) with long comments and PubMed
citations, HGVS expressions, and xrefs (dbSNP on ~60% of records).
Trait names are drawn so every annotate match path fires: tier 1
(condition name = term name), tier 2 (MedGen alias = term name),
tier 3 (exact synonym), the MedGen->OMIM concept path, unmatched and
'not provided'.

The previous night's snapshot and annotation set are written
directly as parquet from a plain-Python twin of the load and annotate
plans (``load``, ``annotate``, ``rs_and_vcf``), and the same twin run on
release k gives the
counters, rs-id count and VCF line count the CLI must report. Only
the generated files reach the program.
"""

from __future__ import annotations

import datetime as dt
import functools
import hashlib
import os
import random
import re
from collections import defaultdict

PREV_TS = dt.datetime(2025, 12, 30, tzinfo=dt.timezone.utc)

# --- constants mirrored from the program's domain configuration ------------
XDB_CLINVAR, XDB_NCBI_GENE, XDB_HGNC, XDB_PUBMED, XDB_MEDGEN = 52, 3, 21, 2, 54
XDB_OMIM, XDB_OMIM_ALLELE, XDB_DBSNP = 6, 53, 48
XREF_KEYS = {"OMIM": XDB_OMIM, "dbSNP": XDB_DBSNP}
XREF_IGNORED = {"ClinGen", "UniProtKB"}
ASSEMBLY_KEYS = {"GRCh37": 17, "GRCh38": 38}
TYPE_SO = {
    "deletion": "SO:0000159",
    "duplication": "SO:1000035",
    "insertion": "SO:0000667",
    "indel": "SO:1000032",
    "single nucleotide variant": "SO:0001483",
}
CLINSIG_RANK = {
    "pathogenic": 0,
    "likely pathogenic": 10,
    "risk factor": 20,
    "benign": 40,
    "likely benign": 50,
    "uncertain significance": 90,
    "not provided": 2000,
}
ANNOTATABLE = {"single nucleotide variant", "deletion", "duplication", "insertion"}
EXCLUDED_CLINSIG = {"benign", "likely benign", "uncertain significance", "not provided"}
EXCLUDED_CONDITIONS = {
    "not provided", "not specified", "none provided", "see cases",
    "variant of unknown significance",
}
SEARCHABLE_SPECIES = {1, 2, 3}
NOTES_BUDGET = 4000
XREF_SOURCE_WIDTH, WITH_INFO_WIDTH = 4000, 1700
STALE_XDB_THRESHOLD = 0.08

# --- vocabularies ----------------------------------------------------------
_ADJ = ("hereditary", "congenital", "familial", "juvenile", "progressive",
        "early onset", "late onset", "autosomal dominant", "autosomal recessive",
        "x-linked", "syndromic", "atypical")
_NOUN = ("spastic paraplegia", "cardiomyopathy", "retinal dystrophy", "ataxia",
         "epilepsy", "myopathy", "neuropathy", "deafness", "nephropathy",
         "leukodystrophy", "dysplasia", "anemia")
_HP_NOUN = ("abnormality of gait", "muscle weakness", "seizure", "hearing impairment",
            "short stature", "hypotonia", "nystagmus", "scoliosis", "ptosis",
            "microcephaly", "ataxic gait", "tremor")
_SYN_WORDS = ("disorder", "disease", "condition", "trait", "phenotype", "form")
_MC = (("missense variant", "SO:0001583"), ("frameshift variant", "SO:0001589"),
       ("synonymous variant", "SO:0001819"), ("stop gained", "SO:0001587"),
       ("splice donor variant", "SO:0001575"))
_CLASSES = ("Pathogenic", "Likely pathogenic", "Benign", "Likely benign",
            "Uncertain significance", "risk factor", "not provided")
_CLASS_W = (30, 20, 8, 8, 18, 8, 8)
_REVIEW = ("criteria provided, single submitter", "no assertion criteria provided",
           "reviewed by expert panel")
_METHODS = ("clinical testing", "literature only", "research")
_WORDS = ("the", "variant", "was", "observed", "in", "a", "patient", "with",
          "segregation", "affected", "family", "members", "functional", "studies",
          "show", "reduced", "activity", "of", "protein", "and", "allele",
          "frequency", "is", "low", "population", "databases", "reported")
_BASES = "ACGT"


def _zipf_index(rnd: random.Random, n: int, s: float = 1.1) -> int:
    return rnd.choices(range(n), weights=_zipf_weights(n, s))[0]


@functools.lru_cache(maxsize=None)
def _zipf_weights(n: int, s: float) -> tuple:
    return tuple(1.0 / (i + 1) ** s for i in range(n))


def normalize_term_key(name: str) -> str:
    """Python twin of ``functions.text.normalize_term_key``."""
    words = re.sub(r"[-,()/]", " ", name.lower()).strip().split()
    return ".".join(sorted(w for w in words if w))


# ---------------------------------------------------------------------------
# Reference data: genes, orthologs, ontology, MedGen->OMIM concepts
# ---------------------------------------------------------------------------

def make_reference(rnd: random.Random, n_genes: int = 120, n_rdo: int = 240,
                   n_hp: int = 160) -> dict:
    genes = [
        {"sym": f"GENE{i:03d}", "gid": str(1000 + i), "hgnc": f"HGNC:{5000 + i}",
         "rgd": 2_000_000 + i}
        for i in range(n_genes)
    ]
    orthologs = []
    for g in genes:
        i = g["rgd"] - 2_000_000
        if rnd.random() < 0.7:
            orthologs.append((g["rgd"], 3_000_000 + i, 1))
        if rnd.random() < 0.5:
            orthologs.append((g["rgd"], 4_000_000 + i, 2))
        if rnd.random() < 0.2:
            orthologs.append((g["rgd"], 5_000_000 + i, 4))  # not searchable

    terms = []  # acc, ontology, term, obsolete
    used = set()

    def fresh(make):
        while True:
            name = make()
            if normalize_term_key(name) not in used:
                used.add(normalize_term_key(name))
                return name

    for i in range(n_rdo):
        name = fresh(lambda: f"{rnd.choice(_ADJ)} {rnd.choice(_NOUN)} {rnd.randint(1, 99)}")
        terms.append({"acc": f"RDO:{9_000_000 + i:07d}", "ont": "RDO", "term": name,
                      "obsolete": rnd.random() < 0.05})
    for i in range(n_hp):
        name = fresh(lambda: f"{rnd.choice(_HP_NOUN)} {rnd.choice(_ADJ)} {rnd.randint(1, 99)}")
        terms.append({"acc": f"HP:{7_000_000 + i:07d}", "ont": "HP", "term": name,
                      "obsolete": rnd.random() < 0.05})
    synonyms = []  # term_acc, name, type
    for t in terms:
        if rnd.random() < 0.4:
            syn = fresh(lambda: f"{t['term']} {rnd.choice(_SYN_WORDS)} {rnd.randint(1, 9)}")
            synonyms.append((t["acc"], syn, "exact"))
        if rnd.random() < 0.2:
            syn = fresh(lambda: f"{rnd.choice(_SYN_WORDS)} of {t['term']}")
            synonyms.append((t["acc"], syn, "broad"))
    # MedGen concept -> (gene, OMIM) -> RDO term via an 'OMIM:<id>' synonym
    rdo_live = [t for t in terms if t["ont"] == "RDO" and not t["obsolete"]]
    concepts = []  # cui, gene index, omim id
    for i, t in enumerate(rnd.sample(rdo_live, 40)):
        omim = str(610_000 + i)
        synonyms.append((t["acc"], f"OMIM:{omim}", "exact"))
        concepts.append({"cui": f"C{8_000_000 + i:07d}",
                         "gene": _zipf_index(rnd, n_genes), "omim": omim})
    return {"genes": genes, "orthologs": orthologs, "terms": terms,
            "synonyms": synonyms, "concepts": concepts}


# ---------------------------------------------------------------------------
# Records
# ---------------------------------------------------------------------------

def _comment(rnd: random.Random, n_words: int) -> str:
    return " ".join(rnd.choice(_WORDS) for _ in range(n_words)).capitalize() + "."


def _scv(rnd: random.Random, aid: int, j: int) -> dict:
    lab = rnd.randint(0, 39)
    return {
        "submitter": f"Laboratory {lab:02d}",
        "org": f"LAB{lab:02d}",
        "addl": [f"Consortium {rnd.randint(0, 9)}"] if rnd.random() < 0.2 else [],
        "review": rnd.choice(_REVIEW),
        "germline": rnd.choices(_CLASSES, weights=_CLASS_W)[0],
        "dle": f"20{rnd.randint(10, 24):02d}-{rnd.randint(1, 12):02d}-{rnd.randint(1, 28):02d}",
        "methods": [rnd.choice(_METHODS)],
        "comments": [_comment(rnd, rnd.randint(30, 60))],
        "pmids": [str(30_000_000 + aid * 16 + j)],
    }


def _trait(rnd: random.Random, ref: dict, aid: int) -> tuple:
    """(trait, medgen cui, medgen name, forced gene index or None)."""
    live = [t for t in ref["terms"] if not t["obsolete"]]
    exact = [s for s in ref["synonyms"] if s[2] == "exact" and not s[1].startswith("OMIM:")]
    cls = rnd.choices(("t1", "t2", "t3", "concept", "none", "np"),
                      weights=(30, 15, 15, 15, 20, 5))[0]
    own = f"Condition {aid}"
    cui = f"C{aid:07d}"
    if cls == "t1":
        words = rnd.choice(live)["term"].split()
        rnd.shuffle(words)
        trait = " ".join(words).capitalize()
        return trait, cui, trait, None
    if cls == "t2":
        return own, cui, rnd.choice(live)["term"].upper(), None
    if cls == "t3":
        syn = rnd.choice(exact)[1]
        return syn, cui, syn, None
    if cls == "concept":
        c = rnd.choice(ref["concepts"])
        return own, c["cui"], own, c["gene"]
    if cls == "np":
        return "not provided", cui, "not provided", None
    return own, cui, f"Alias {aid}", None


def make_simple(rnd: random.Random, ref: dict, aid: int) -> dict:
    genes = ref["genes"]
    gi = [_zipf_index(rnd, len(genes))]
    if rnd.random() < 0.1:
        gi.append(_zipf_index(rnd, len(genes)))
    trait, cui, mname, forced = _trait(rnd, ref, aid)
    if forced is not None:
        gi = [forced]
    glist = [(genes[i]["sym"], genes[i]["gid"], genes[i]["hgnc"]) for i in dict.fromkeys(gi)]
    if rnd.random() < 0.05:
        glist = [(f"NOVEL{aid % 97:03d}", str(90_000 + aid), None)]
    vtype = rnd.choice(("single nucleotide variant", "Insertion", "Deletion",
                        "Duplication", "Indel"))
    b = _BASES[aid % 4]
    alt_b = _BASES[(aid + 1 + rnd.randint(0, 2)) % 4]
    ins = "".join(rnd.choice(_BASES) for _ in range(rnd.randint(1, 4)))
    ref_a, alt_a = {
        "single nucleotide variant": (b, alt_b),
        "Insertion": ("A" if rnd.random() < 0.1 else None, ins),
        "Deletion": (b + ins, "C" if rnd.random() < 0.1 else None),
        "Duplication": (b, b + b),
        "Indel": (b + "T", alt_b + ins),
    }[vtype]
    chrom = str(1 + aid % 22) if aid % 23 else "X"
    start = 1_000_000 + aid * 10
    stop = start + max(len(ref_a or "N"), 1) - 1
    mc = rnd.choice(_MC)
    sym = glist[0][0]
    hgvs = [
        ("coding", f"NM_{aid:06d}.1:c.{aid % 900 + 1}{b}>{alt_b}", None, [mc]),
        ("HGVS, protein, RefSeq", None, f"NP_{aid:06d}.1:p.Arg{aid % 300 + 1}Ter",
         [rnd.choice(_MC)] if rnd.random() < 0.5 else []),
    ]
    if rnd.random() < 0.5:
        hgvs.append(("genomic", f"NC_0000{chrom}.11:g.{start}{b}>{alt_b}", None, []))
    xrefs = []
    if rnd.random() < 0.6:
        xrefs.append(("dbSNP", str(100_000 + aid), "rs"))
    if rnd.random() < 0.3:
        xrefs.append(("OMIM", f"{600_000 + aid % 9000}.{aid % 7 + 1:04d}", "Allelic variant"))
    if rnd.random() < 0.3:
        xrefs.append(("ClinGen", f"CA{aid}", None))
    if rnd.random() < 0.05:
        xrefs.append(("LocusDB", f"L{aid}", None))
    rcvs = [(f"RCV{aid * 3:09d}", trait)]
    if rnd.random() < 0.3:
        rcvs.append((f"RCV{aid * 3 + 1:09d}", None))
    return {
        "kind": "simple", "vid": aid + 100_000, "aid": aid,
        "status": "replaced" if rnd.random() < 0.02 else "current",
        "species": "Homo sapiens",
        "name": f"NM_{aid:06d}.1({sym}):c.{aid % 900 + 1}{b}>{alt_b}",
        "vtype": vtype, "alt_names": [f"{sym} variant {aid}"] if rnd.random() < 0.5 else [],
        "genes": glist,
        "locs": [("GRCh38", f"NC_0000{chrom}.11", chrom, start, stop, ref_a, alt_a),
                 ("GRCh37", f"NC_0000{chrom}.10", chrom, start - 5000, stop - 5000, ref_a, alt_a)],
        "cyto": [f"{chrom}p{11 + aid % 20}.{1 + aid % 3}"],
        "hgvs": hgvs, "xrefs": xrefs, "rcvs": rcvs,
        "scvs": [_scv(rnd, aid, j) for j in range(rnd.randint(2, 4))],
        "tms": [("Preferred", trait, cui, mname)],
    }


def make_other(kind: str, vid: int) -> dict:
    return {"kind": kind, "vid": vid, "status": "current", "species": "Homo sapiens"}


def churn(rnd: random.Random, ref: dict, base: list, next_aid: int,
          remove=0.03, edit=0.15, add=0.25) -> list:
    """Tonight's release from last night's: removals, edits, additions."""
    out = []
    simple = [r for r in base if r["kind"] == "simple"]
    n_add = int(len(simple) * add)
    for r in base:
        if r["kind"] == "simple" and rnd.random() < remove:
            continue
        if r["kind"] == "simple" and rnd.random() < edit:
            r = _edit(rnd, ref, r)
        out.append(r)
    out.extend(make_simple(rnd, ref, next_aid + i) for i in range(n_add))
    return out


def _edit(rnd: random.Random, ref: dict, r: dict) -> dict:
    r = {**r, "scvs": list(r["scvs"]), "xrefs": list(r["xrefs"]), "hgvs": list(r["hgvs"])}
    what = rnd.choice(("rename", "new_scv", "drop_xref", "add_hgvs", "retrait"))
    if what == "rename":
        r["name"] = r["name"] + " (revised)"
    elif what == "new_scv":
        r["scvs"].append(_scv(rnd, r["aid"], len(r["scvs"]) + 8))
    elif what == "drop_xref" and r["xrefs"]:
        r["xrefs"].pop(rnd.randrange(len(r["xrefs"])))
    elif what == "add_hgvs":
        r["hgvs"].append(("genomic", f"NC_0000{r['locs'][0][2]}.12:g.{r['locs'][0][3]}dup",
                          None, []))
    else:
        trait, cui, mname, _ = _trait(rnd, ref, r["aid"])
        r["tms"] = [("Preferred", trait, cui, mname)]
        r["rcvs"] = [(r["rcvs"][0][0], trait)] + r["rcvs"][1:]
    return r


def make_release(rnd: random.Random, ref: dict, n_simple: int, aid0: int = 1) -> list:
    recs = [make_simple(rnd, ref, aid0 + i) for i in range(n_simple)]
    n_other = max(1, n_simple // 40)
    for i in range(n_other):
        for j, kind in enumerate(("genotype", "haplotype", "multi_allele")):
            recs.append(make_other(kind, 900_000 + 3 * i + j))
    rnd.shuffle(recs)
    return recs


# ---------------------------------------------------------------------------
# XML rendering
# ---------------------------------------------------------------------------

HEADER = ('<?xml version="1.0" encoding="UTF-8"?>\n'
          '<ClinVarVariationRelease ReleaseDate="2026-01-01">\n')
TRAILER = "</ClinVarVariationRelease>\n"


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace('"', "&quot;")


def _attrs(**kv) -> str:
    return "".join(f' {k}="{_esc(str(v))}"' for k, v in kv.items() if v is not None)


def render(r: dict) -> str:
    head = (f'<VariationArchive Accession="VCV{r["vid"]:09d}" VariationID="{r["vid"]}"'
            f' RecordType="classified">\n  <RecordStatus>{r["status"]}</RecordStatus>\n'
            f'  <Species>{r["species"]}</Species>\n  <ClassifiedRecord>\n')
    tail = "  </ClassifiedRecord>\n</VariationArchive>\n"
    vid = r["vid"]
    if r["kind"] == "genotype":
        return head + (f'    <Genotype VariationID="{vid}"><SimpleAllele AlleleID="{vid}1"'
                       f' VariationID="{vid}1"/></Genotype>\n') + tail
    if r["kind"] == "haplotype":
        return head + (f'    <Haplotype VariationID="{vid}"><SimpleAllele AlleleID="{vid}2"'
                       f' VariationID="{vid}2"/></Haplotype>\n') + tail
    if r["kind"] == "multi_allele":
        return head + "".join(
            f'    <SimpleAllele AlleleID="{vid}{k}" VariationID="{vid}"><Name>m{vid}-{k}</Name>'
            f"</SimpleAllele>\n" for k in (3, 4)) + tail
    p = [head, f'    <SimpleAllele AlleleID="{r["aid"]}" VariationID="{vid}">\n',
         f"      <Name>{_esc(r['name'])}</Name>\n",
         f"      <VariantType>{r['vtype']}</VariantType>\n"]
    if r["alt_names"]:
        p.append("      <OtherNameList>" + "".join(
            f"<Name>{_esc(n)}</Name>" for n in r["alt_names"]) + "</OtherNameList>\n")
    p.append("      <GeneList>" + "".join(
        f"<Gene{_attrs(Symbol=s, GeneID=g, HGNC_ID=h)}/>" for s, g, h in r["genes"])
        + "</GeneList>\n")
    p.append("      <Location>" + "".join(
        f"<CytogeneticLocation>{c}</CytogeneticLocation>" for c in r["cyto"]))
    for asm, acc, chrom, start, stop, ref_a, alt_a in r["locs"]:
        p.append(f"<SequenceLocation{_attrs(Assembly=asm, Accession=acc, Chr=chrom, start=start, stop=stop, referenceAlleleVCF=ref_a, alternateAlleleVCF=alt_a)}/>")
    p.append("</Location>\n      <HGVSlist>\n")
    for typ, nuc, prot, mcs in r["hgvs"]:
        p.append(f'        <HGVS Type="{_esc(typ)}">')
        if nuc:
            p.append(f"<NucleotideExpression><Expression>{_esc(nuc)}</Expression></NucleotideExpression>")
        if prot:
            p.append(f"<ProteinExpression><Expression>{_esc(prot)}</Expression></ProteinExpression>")
        p.extend(f'<MolecularConsequence Type="{t}" ID="{i}"/>' for t, i in mcs)
        p.append("</HGVS>\n")
    p.append("      </HGVSlist>\n      <XRefList>" + "".join(
        f"<XRef{_attrs(DB=db, ID=i, Type=t)}/>" for db, i, t in r["xrefs"])
        + "</XRefList>\n    </SimpleAllele>\n    <RCVList>\n")
    for acc, cond in r["rcvs"]:
        if cond is None:
            p.append(f'      <RCVAccession Accession="{acc}"/>\n')
        else:
            p.append(f'      <RCVAccession Accession="{acc}"><ClassifiedConditionList>'
                     f"<ClassifiedCondition>{_esc(cond)}</ClassifiedCondition>"
                     "</ClassifiedConditionList></RCVAccession>\n")
    p.append("    </RCVList>\n    <ClinicalAssertionList>\n")
    for s in r["scvs"]:
        p.append(f"      <ClinicalAssertion><ClinVarAccession{_attrs(SubmitterName=s['submitter'], OrgAbbreviation=s['org'])}/>")
        if s["addl"]:
            p.append("<AdditionalSubmitters>" + "".join(
                f"<SubmitterDescription{_attrs(SubmitterName=a)}/>" for a in s["addl"])
                + "</AdditionalSubmitters>")
        p.append(f'<Classification DateLastEvaluated="{s["dle"]}">'
                 f"<ReviewStatus>{_esc(s['review'])}</ReviewStatus>"
                 f"<GermlineClassification>{s['germline']}</GermlineClassification>"
                 "<Citation>" + "".join(f'<ID Source="PubMed">{m}</ID>' for m in s["pmids"])
                 + '<ID Source="DOI">10.1000/x</ID></Citation></Classification>')
        p.append("<ObservedInList>" + "".join(
            f"<ObservedIn><Method><MethodType>{m}</MethodType></Method></ObservedIn>"
            for m in s["methods"]) + "</ObservedInList>")
        p.extend(f"<Comment>{_esc(c)}</Comment>" for c in s["comments"])
        p.append("</ClinicalAssertion>\n")
    p.append("    </ClinicalAssertionList>\n    <TraitMappingList>\n")
    for mref, mval, cui, mname in r["tms"]:
        p.append(f"      <TraitMapping{_attrs(MappingRef=mref, MappingValue=mval)}>"
                 f"<MedGen{_attrs(CUI=cui, Name=mname)}/></TraitMapping>\n")
    p.append("    </TraitMappingList>\n")
    p.append(tail)
    return "".join(p)


def write_release(records: list, path: str) -> int:
    with open(path, "w", encoding="utf-8") as f:
        f.write(HEADER)
        for r in records:
            f.write(render(r))
        f.write(TRAILER)
    return os.path.getsize(path)


# ---------------------------------------------------------------------------
# Twin of the load plan (extract -> incoming -> match -> merge -> diff)
# ---------------------------------------------------------------------------

def _set_join(vals) -> str | None:
    s = sorted({v for v in vals if v is not None and v != ""})
    return "|".join(s) if s else None


def _pipe(s: str | None) -> list:
    return [v for v in (s or "").split("|") if v != ""]


def _merge_ci(new: str, old: str) -> str:
    inc, ex = _pipe(new), _pipe(old)
    low = {v.lower() for v in inc}
    return "|".join(sorted(set(inc + [e for e in ex if e.lower() not in low])))


def _ranked_merge(new: str, old: str) -> str:
    def side(s):
        return [v.strip() for v in re.split(r"[,;|/]", s or "") if v.strip() != ""]
    merged = list(dict.fromkeys(side(new) + side(old)))
    dedup = list(dict.fromkeys(v.lower() for v in merged))
    return "|".join(sorted(dedup, key=lambda v: (CLINSIG_RANK.get(v.lower(), 999), v)))


def _hgvs_type(t: str) -> str:
    return t.replace(", ", "_").replace(" ", "").lower().replace("hgvs_", "")


def incoming(r: dict) -> dict:
    """One incoming variant (``build_incoming_variants``) with its
    satellite rows keyed by symbol."""
    primary = r["rcvs"][0][0] if r["rcvs"] else None
    mc_all = [m for h in r["hgvs"] for m in h[3]]
    mc_types = [t for t, _ in mc_all if t]
    so_xml = next((i for _, i in mc_all if i and i.startswith("SO:")), None)
    vt = r["vtype"].lower()
    so = so_xml if so_xml and so_xml != "SO:1000064" else TYPE_SO.get(vt)
    refs = [loc[5] for loc in r["locs"] if loc[5]]
    alts = [loc[6] for loc in r["locs"] if loc[6]]
    scvs = r["scvs"]
    preferred = next((v for m, v, _, _ in r["tms"] if m == "Preferred"), None)
    cond = next((c for _, c in r["rcvs"] if c is not None), None)
    trait = preferred if preferred is not None else cond
    comments = [c for s in scvs for c in s["comments"]]
    dles = [s["dle"] for s in scvs if s["dle"]]
    sym = f"CV{r['aid']}"
    v = {
        "symbol": sym, "name": r["name"], "object_type": vt, "so_acc_id": so,
        "ref_nuc": refs[-1] if refs else None, "var_nuc": alts[-1] if alts else None,
        "nucleotide_change": None,
        "clinical_significance": _set_join(s["germline"].lower() for s in scvs),
        "review_status": _set_join(s["review"].lower() for s in scvs),
        "method_type": _set_join(m.lower() for s in scvs for m in s["methods"]),
        "molecular_consequence": mc_types[-1] if mc_types else None,
        "age_of_onset": None, "prevalence": None,
        "submitter": _set_join([s["submitter"] for s in scvs] + [s["org"] for s in scvs]
                               + [a for s in scvs for a in s["addl"]]),
        "trait_name": (trait + (f" [{primary}]" if primary else "")) if trait is not None else None,
        "notes": "|".join(comments) if comments else None,
        "date_last_evaluated": dt.date.fromisoformat(dles[-1]) if dles else None,
        "primary_rcv": primary,
    }
    xdb = {}

    def put(key, acc, link):
        xdb.setdefault((key, acc), (link, primary if key != XDB_CLINVAR else acc))

    for acc, _ in r["rcvs"]:
        put(XDB_CLINVAR, acc, acc)
    for gsym, gid, hgnc in r["genes"]:
        if gid is not None:
            put(XDB_NCBI_GENE, gid, gsym)
        if hgnc is not None:
            put(XDB_HGNC, hgnc, hgnc)
    for s in scvs:
        for p in s["pmids"]:
            digits = re.sub(r"[^0-9]", "", p)
            if digits:
                put(XDB_PUBMED, digits, digits)
    for _, _, cui, _ in r["tms"]:
        if cui is not None and cui != "None":
            put(XDB_MEDGEN, cui, cui)
    for db, xid, typ in r["xrefs"]:
        if db in XREF_IGNORED or db not in XREF_KEYS:
            continue
        if db == "dbSNP":
            if typ == "rs":
                put(XDB_DBSNP, xid, "rs" + xid)
        elif db == "OMIM" and "." in xid:
            put(XDB_OMIM, xid.split(".")[0], xid)
            put(XDB_OMIM_ALLELE, xid, xid)
        else:
            put(XREF_KEYS[db], xid, xid)
    maps = {}
    for asm, _, chrom, p1, p2, _, _ in r["locs"]:
        mk = ASSEMBLY_KEYS.get(asm.split(".")[0])
        if mk is None:
            continue
        band = next((c for c in r["cyto"]
                     if (re.match(r"^([0-9XY]+)[pq]", c) or [None, None])[1] == chrom), None)
        key = (mk, chrom, min(p1, p2), max(p1, p2))
        maps.setdefault(key, (band, primary))
    hgvs = set()
    for typ, nuc, prot, _ in r["hgvs"]:
        for expr in (nuc, prot):
            if expr and len(expr) <= 4000:
                hgvs.add((_hgvs_type(typ), expr))
    stripped = re.sub(r" \[RCV[0-9]+\]$", "", v["trait_name"] or "")
    aliases = {}
    for _, _, _, mname in r["tms"]:
        if (mname is None or mname.strip() == ""
                or mname.lower() in ("not provided", "not specified")
                or mname.lower() == stripped.lower()
                or mname.lower() == (v["trait_name"] or "").lower()):
            continue
        k = mname.lower()
        aliases[k] = min(aliases.get(k, mname), mname)
    v["_xdb"] = xdb
    v["_genes"] = [(s, g) for s, g, _ in r["genes"]]
    v["_maps"] = maps
    v["_hgvs"] = hgvs
    v["_aliases"] = {val: primary for val in aliases.values()}
    return v


COMPARE = ("symbol", "name", "object_type", "so_acc_id", "ref_nuc", "var_nuc",
           "nucleotide_change", "clinical_significance", "review_status", "method_type",
           "molecular_consequence", "age_of_onset", "prevalence", "date_last_evaluated")
_CI_FIELDS = ("age_of_onset", "method_type", "molecular_consequence", "prevalence",
              "review_status")


def empty_state() -> dict:
    return {"variants": {}, "xdb": {}, "assoc": set(), "maps": {}, "hgvs": set(),
            "aliases": {}, "annotations": []}


def _count(counters: dict, entity: str, change: str, n: int = 1) -> None:
    counters[f"{entity}_{change}"] = counters.get(f"{entity}_{change}", 0) + n


def _diff(counters: dict, entity: str, inc: dict, old: dict) -> None:
    """diff_sync over keyed rows: value tuples compare like fingerprints."""
    for k, val in inc.items():
        if k not in old:
            _count(counters, entity, "INSERT")
        elif old[k] != val:
            _count(counters, entity, "UPDATE")
        else:
            _count(counters, entity, "UNCHANGED")
    for k in old:
        if k not in inc:
            _count(counters, entity, "DELETE")


def load(records: list, prev: dict, ref: dict, ts: dt.datetime) -> tuple[dict, dict, dict]:
    """Twin of ``plans.load.load_run``: (next state, counters, stats)."""
    c: dict = {}
    for r in records:
        _count(c, "RECORDS", r["kind"].upper())
        if r["status"] != "current":
            c["NON_CURRENT_RECORD"] = c.get("NON_CURRENT_RECORD", 0) + 1
        if r["species"] != "Homo sapiens":
            c["NON_HUMAN_SPECIES"] = c.get("NON_HUMAN_SPECIES", 0) + 1
    inc = [incoming(r) for r in records if r["kind"] == "simple"]
    for v in inc:
        cs, tn = v["clinical_significance"] or "", v["trait_name"]
        if "not provided" in cs:
            cls = "CLINICAL_SIGNIFICANCE_NOT_PROVIDED"
        elif tn is None or "not provided" in tn or "not specified" in tn:
            cls = "CONDITION_NOT_PROVIDED"
        else:
            cls = "OTHER"
        _count(c, "CLINVAR_ENTRY", cls)

    pv = prev["variants"]
    by_rcv = defaultdict(set)
    for (rgd, key, acc) in prev["xdb"]:
        if key == XDB_CLINVAR and rgd in pv:
            by_rcv[acc].add(rgd)
    by_sym, by_name = defaultdict(set), defaultdict(set)
    for rgd, row in pv.items():
        by_sym[row["symbol"]].add(rgd)
        by_name[row["name"]].add(rgd)

    def hit(idx, k):
        s = idx.get(k, ())
        return next(iter(s)) if len(s) == 1 else None

    max_prev = max(pv, default=0)
    new_syms = []
    for v in inc:
        m = hit(by_rcv, v["primary_rcv"])
        if m is None:
            m = hit(by_sym, v["symbol"])
        if m is None:
            m = hit(by_name, v["name"])
        v["rgd"] = m
        if m is None:
            new_syms.append(v["symbol"])
    new_ids = {s: max_prev + i + 1 for i, s in enumerate(sorted(set(new_syms)))}
    for v in inc:
        if v["rgd"] is None:
            v["rgd"] = new_ids[v["symbol"]]
        old = pv.get(v["rgd"])
        if old is None:
            continue
        for f in _CI_FIELDS:
            if v[f] is None:
                v[f] = old[f]
            elif old[f] is not None:
                v[f] = _merge_ci(v[f], old[f])
        if v["clinical_significance"] is None:
            v["clinical_significance"] = old["clinical_significance"]
        elif old["clinical_significance"] is not None:
            v["clinical_significance"] = _ranked_merge(v["clinical_significance"],
                                                       old["clinical_significance"])
        if v["date_last_evaluated"] is None or (
                old["date_last_evaluated"] is not None
                and old["date_last_evaluated"] > v["date_last_evaluated"]):
            v["date_last_evaluated"] = old["date_last_evaluated"]

    run = {v["rgd"]: v for v in inc}
    _diff(c, "VARIANTS", {rgd: tuple(v[k] for k in COMPARE) for rgd, v in run.items()},
          {rgd: tuple(row[k] for k in COMPARE) for rgd, row in pv.items()})

    xdb_in = {(v["rgd"], k, a): val for v in inc for (k, a), val in v["_xdb"].items()}
    _diff(c, "XDB_IDS", xdb_in,
          {k: val[:2] for k, val in prev["xdb"].items() if k[0] in run})
    genes_by_id = defaultdict(set)
    genes_by_sym = defaultdict(set)
    for g in ref["genes"]:
        genes_by_id[g["gid"]].add(g["rgd"])
        genes_by_sym[g["sym"]].add(g["rgd"])
    assoc_in = set()
    for v in inc:
        for gsym, gid in v["_genes"]:
            g = hit(genes_by_id, gid)
            if g is None:
                g = hit(genes_by_sym, gsym)
            if g is not None:
                assoc_in.add((v["rgd"], g))
    _diff(c, "GENE_ASSOCIATIONS", {k: () for k in assoc_in},
          {k: () for k in prev["assoc"] if k[0] in run})
    maps_in = {(v["rgd"],) + k: val for v in inc for k, val in v["_maps"].items()}
    _diff(c, "MAP_POSITIONS", maps_in, {k: val for k, val in prev["maps"].items() if k[0] in run})
    hgvs_in = {(v["rgd"],) + h for v in inc for h in v["_hgvs"]}
    _diff(c, "HGVS_NAMES", {k: () for k in hgvs_in},
          {k: () for k in prev["hgvs"] if k[0] in run})
    alias_in = {(v["rgd"], a): (n,) for v in inc for a, n in v["_aliases"].items()}
    _diff(c, "ALIASES", alias_in, {k: val for k, val in prev["aliases"].items() if k[0] in run})

    # next state -------------------------------------------------------------
    cutoff = ts - dt.timedelta(days=1)
    touched = set(xdb_in) | {k for k, val in prev["xdb"].items() if val[2] >= cutoff}
    stale = [k for k in prev["xdb"] if k not in touched]
    total = len(prev["xdb"])
    aborted = total > 0 and len(stale) > STALE_XDB_THRESHOLD * total
    kept = prev["xdb"] if aborted else {k: v for k, v in prev["xdb"].items() if k in touched}
    xdb = {k: val + (ts,) for k, val in xdb_in.items()}
    for k, val in kept.items():
        if k not in xdb_in:
            xdb[k] = val

    variants = {rgd: row for rgd, row in pv.items() if rgd not in run}
    for rgd, v in run.items():
        row = {k: v[k] for k in COMPARE}
        parts = [p for p in _pipe(v["notes"])] if (v["notes"] or "").strip() else []
        notes = "; ".join(sorted(set(parts))) if parts else None
        if notes is not None and len(notes.encode()) > NOTES_BUDGET:
            raise ValueError("generated notes exceed the byte budget")
        row["notes"] = notes
        for f in ("trait_name", "submitter"):
            ps = _pipe(v[f]) if (v[f] or "").strip() else []
            row[f] = "|".join(sorted(set(ps))) if ps else None
        row["rgd_id"] = rgd
        row["last_modified_date"] = ts  # not compared; kept simple
        variants[rgd] = row

    def carry(prev_rows, new_rows):
        out = {k: val for k, val in prev_rows.items() if k[0] not in run}
        out.update(new_rows)
        return out

    state = {
        "variants": variants, "xdb": xdb,
        "assoc": {k for k in prev["assoc"] if k[0] not in run} | assoc_in,
        "maps": carry(prev["maps"], maps_in),
        "hgvs": {k for k in prev["hgvs"] if k[0] not in run} | hgvs_in,
        "aliases": carry(prev["aliases"], alias_in),
        "annotations": prev["annotations"],
    }
    stats = {"guard_stale": len(stale), "guard_aborted": aborted}
    return state, c, stats


# ---------------------------------------------------------------------------
# Twin of the annotate plan
# ---------------------------------------------------------------------------

def annotate(state: dict, ref: dict) -> tuple[list, dict, dict]:
    """Twin of ``plans.annotate.annotate_run``: (incoming annotations,
    counters, tier counts)."""
    variants = state["variants"]
    carpe = {
        rgd for rgd, v in variants.items()
        if v["object_type"] in ANNOTATABLE
        and (v["clinical_significance"] or "") not in EXCLUDED_CLINSIG
    }
    pm = defaultdict(set)
    cuis = defaultdict(set)
    for (rgd, key, acc) in state["xdb"]:
        if key == XDB_PUBMED:
            pm[rgd].add("PMID:" + acc)
        elif key == XDB_MEDGEN:
            cuis[rgd].add(acc)
    pm = {rgd: "|".join(sorted(s)) for rgd, s in pm.items()}
    conds = set()
    for rgd in carpe:
        for c in (variants[rgd]["trait_name"] or "").split("|"):
            if " [RCV" in c:
                c = c[: c.index(" [RCV")]
            if c != "" and c not in EXCLUDED_CONDITIONS:
                conds.add((rgd, c))
    var_genes = defaultdict(set)
    for vr, g in state["assoc"]:
        var_genes[vr].add(g)
    live = {t["acc"]: t for t in ref["terms"] if not t["obsolete"]}
    concept_map = {(cp["cui"], ref["genes"][cp["gene"]]["rgd"]): cp["omim"]
                   for cp in ref["concepts"]}
    omim_terms = defaultdict(set)
    for acc, name, typ in ref["synonyms"]:
        if typ == "exact" and name.startswith("OMIM:") and acc in live and live[acc]["ont"] == "RDO":
            omim_terms[name[5:]].add(acc)
    cterms = set()
    for rgd, cs in cuis.items():
        for cui in cs:
            for g in var_genes.get(rgd, ()):
                omim = concept_map.get((cui, g))
                if omim is not None:
                    for acc in omim_terms.get(omim, ()):
                        cterms.add((rgd, acc, "OMIM:" + omim))
    concept_vars = {t[0] for t in cterms}
    aliases = defaultdict(list)
    for (rgd, val) in state["aliases"]:
        aliases[rgd].append(val)

    def tiers(cset, ont):
        name_idx, syn_idx = defaultdict(set), defaultdict(set)
        for acc, t in live.items():
            if t["ont"] == ont:
                name_idx[normalize_term_key(t["term"])].add(acc)
        for acc, name, typ in ref["synonyms"]:
            if typ == "exact" and acc in live and live[acc]["ont"] == ont:
                syn_idx[normalize_term_key(name)].add(acc)
        best, tier_of = set(), {}
        for rgd, cond in cset:
            nk = normalize_term_key(cond)
            t1 = {(acc, "term: " + cond) for acc in name_idx.get(nk, ())}
            t2 = {(acc, "term: " + al) for al in aliases.get(rgd, ())
                  for acc in name_idx.get(normalize_term_key(al), ())}
            t3 = {(acc, "synonym: " + cond) for acc in syn_idx.get(nk, ())}
            for n, hits in ((1, t1), (2, t2), (3, t3)):
                if hits:
                    tier_of[(rgd, cond)] = n
                    best |= {(rgd, acc, mb) for acc, mb in hits}
                    break
        return best, tier_of

    name_conds = {(r, c) for r, c in conds if r not in concept_vars}
    d_name, d_tier = tiers(name_conds, "RDO")
    h_terms, h_tier = tiers(conds, "HP")
    d_terms = cterms | d_name
    rows = []
    note = "ClinVar Annotator: match by "
    for aspect, terms in (("D", d_terms), ("H", h_terms)):
        for rgd, acc, mb in terms:
            rows.append((rgd, acc, aspect, "IAGP", None, pm.get(rgd), note + mb))
    single = {vr: next(iter(gs)) for vr, gs in var_genes.items() if len(gs) == 1}
    homologs = defaultdict(list)
    for g, h, sp in ref["orthologs"]:
        if sp in SEARCHABLE_SPECIES:
            homologs[g].append(h)
    for aspect, terms in (("D", d_terms), ("H", h_terms)):
        for rgd, acc, mb in terms:
            g = single.get(rgd)
            if g is None:
                continue
            rows.append((g, acc, aspect, "IAGP", f"RGD:{rgd}", pm.get(rgd), note + mb))
            for h in homologs.get(g, ()):
                rows.append((h, acc, aspect, "ISO", f"RGD:{g}", pm.get(rgd), note + mb))
    incoming_rows = _merge_split(rows)
    counters: dict = {}
    inc_by, old_by = defaultdict(list), defaultdict(list)
    for a in incoming_rows:
        inc_by[a[:5]].append(a[5:])
    for a in state["annotations"]:
        old_by[a[:5]].append(a[5:])
    for k, ins in inc_by.items():
        olds = old_by.get(k, [])
        if not olds:
            _count(counters, "ANNOTATIONS", "INSERT", len(ins))
        for i in ins:
            for o in olds:
                _count(counters, "ANNOTATIONS", "UNCHANGED" if i == o else "UPDATE")
    for k, olds in old_by.items():
        if k not in inc_by:
            _count(counters, "ANNOTATIONS", "DELETE", len(olds))
    tier_counts = {"conditions": len(conds),
                   "tier1": sum(1 for t in list(d_tier.values()) + list(h_tier.values()) if t == 1),
                   "tier2": sum(1 for t in list(d_tier.values()) + list(h_tier.values()) if t == 2),
                   "tier3": sum(1 for t in list(d_tier.values()) + list(h_tier.values()) if t == 3),
                   "concept_variants": len(concept_vars)}
    return incoming_rows, counters, tier_counts


def _pack(items: list, width: int) -> list:
    buckets, cur, cur_len = [], [], 0
    for e in sorted(set(items)):
        add = len(e) if not cur else cur_len + 1 + len(e)
        if cur and add > width:
            buckets.append(cur)
            cur, cur_len = [e], len(e)
        else:
            cur, cur_len = cur + [e], add
    if cur or not buckets:
        buckets.append(cur)
    return buckets


def _merge_split(rows: list) -> list:
    """Twin of ``merge_and_split_annotations``."""
    p1 = defaultdict(set)
    for obj, acc, asp, ev, wi, xs, notes in rows:
        p1[(obj, acc, asp, ev, wi, notes)] |= {e for e in re.split(r"[|,;]", xs or "") if e}
    p2 = defaultdict(set)
    for (obj, acc, asp, ev, wi, notes), xs in p1.items():
        p2[(obj, acc, asp, ev, notes, tuple(sorted(xs)))].add(wi or "")
    out = []
    for (obj, acc, asp, ev, notes, xs), wis in p2.items():
        for xb in _pack(list(xs), XREF_SOURCE_WIDTH):
            for wb in _pack([w for w in wis if w], WITH_INFO_WIDTH):
                out.append((obj, acc, asp, ev, "|".join(wb) or None, "|".join(xb) or None, notes))
    return out


def rs_and_vcf(state: dict) -> tuple[int, dict, int]:
    """Twin of ``assign_rs_from_xdb`` + ``clinvar2vcf_export``:
    (variants with an rs id, drop counters, VCF data lines)."""
    rs = {}
    for (rgd, key, acc), val in state["xdb"].items():
        if key == XDB_DBSNP and val[0].startswith("rs"):
            rs[rgd] = min(rs.get(rgd, val[0]), val[0])
    drops: dict = {}
    groups = defaultdict(lambda: (set(), set()))
    for (rgd, mk, chrom, start, _stop) in state["maps"]:
        if mk != 38 or rgd not in state["variants"]:
            continue
        v = state["variants"][rgd]
        vt, ref_n, var_n = v["object_type"], v["ref_nuc"], v["var_nuc"]
        if vt == "insertion" and ref_n is not None and ref_n != "-":
            drops["INSERTION_BAD_REF"] = drops.get("INSERTION_BAD_REF", 0) + 1
            continue
        if vt == "deletion" and var_n is not None and not var_n.startswith("-"):
            drops["DELETION_BAD_VAR"] = drops.get("DELETION_BAD_VAR", 0) + 1
            continue
        if vt == "insertion":
            ref_o, alt_o = "N", "N" + (var_n or "")
        elif vt == "deletion":
            ref_o, alt_o = "N" + (ref_n or ""), "N"
        else:
            ref_o, alt_o = ref_n, var_n
        g = groups[(chrom, start, rs.get(rgd, "."), vt)]
        g[0].add(ref_o or "-")
        g[1].add(alt_o or "-")
    lines = sum(1 for refs, alts in groups.values()
                if not (len(",".join(sorted(refs))) > 1 and len(",".join(sorted(alts))) > 1))
    return len(rs), drops, lines


# ---------------------------------------------------------------------------
# Writing the inputs
# ---------------------------------------------------------------------------

def _write(path: str, rows: list, schema) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pylist(rows, schema=schema)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def write_state(state: dict, snap_dir: str, annot_path: str) -> None:
    import pyarrow as pa

    s, ts_t = pa.string(), pa.timestamp("us", tz="UTC")
    vcols = [("rgd_id", pa.int64()), ("symbol", s), ("name", s), ("object_type", s),
             ("so_acc_id", s), ("ref_nuc", s), ("var_nuc", s), ("nucleotide_change", s),
             ("clinical_significance", s), ("review_status", s), ("method_type", s),
             ("molecular_consequence", s), ("age_of_onset", s), ("prevalence", s),
             ("submitter", s), ("trait_name", s), ("notes", s),
             ("date_last_evaluated", pa.date32()), ("last_modified_date", ts_t)]
    _write(f"{snap_dir}/variants", [{k: v[k] for k, _ in vcols} for _, v in sorted(state["variants"].items())],
           pa.schema(vcols))
    _write(f"{snap_dir}/xdb_ids",
           [{"rgd_id": k[0], "xdb_key": k[1], "acc_id": k[2], "link_text": v[0],
             "notes": v[1], "modification_date": v[2]} for k, v in sorted(state["xdb"].items())],
           pa.schema([("rgd_id", pa.int64()), ("xdb_key", pa.int32()), ("acc_id", s),
                      ("link_text", s), ("notes", s), ("modification_date", ts_t)]))
    _write(f"{snap_dir}/gene_associations",
           [{"variant_rgd_id": a, "gene_rgd_id": b} for a, b in sorted(state["assoc"])],
           pa.schema([("variant_rgd_id", pa.int64()), ("gene_rgd_id", pa.int64())]))
    _write(f"{snap_dir}/map_positions",
           [{"rgd_id": k[0], "map_key": k[1], "chromosome": k[2], "start_pos": k[3],
             "stop_pos": k[4], "fish_band": v[0], "notes": v[1]}
            for k, v in sorted(state["maps"].items())],
           pa.schema([("rgd_id", pa.int64()), ("map_key", pa.int32()), ("chromosome", s),
                      ("start_pos", pa.int32()), ("stop_pos", pa.int32()),
                      ("fish_band", s), ("notes", s)]))
    _write(f"{snap_dir}/hgvs_names",
           [{"rgd_id": a, "type": b, "name": c} for a, b, c in sorted(state["hgvs"])],
           pa.schema([("rgd_id", pa.int64()), ("type", s), ("name", s)]))
    _write(f"{snap_dir}/aliases",
           [{"rgd_id": k[0], "value": k[1], "notes": v[0]} for k, v in sorted(state["aliases"].items())],
           pa.schema([("rgd_id", pa.int64()), ("value", s), ("notes", s)]))
    _write(annot_path,
           [dict(zip(("annotated_object_rgd_id", "term_acc", "aspect", "evidence",
                      "with_info", "xref_source", "notes"), a))
            for a in sorted(state["annotations"], key=lambda a: tuple(str(x) for x in a))],
           pa.schema([("annotated_object_rgd_id", pa.int64()), ("term_acc", s), ("aspect", s),
                      ("evidence", s), ("with_info", s), ("xref_source", s), ("notes", s)]))


def write_reference(ref: dict, genes_path: str, aux_dir: str) -> None:
    import pyarrow as pa

    s = pa.string()
    _write(genes_path, [{"gene_rgd_id": g["rgd"], "gene_id": g["gid"], "symbol": g["sym"]}
                        for g in ref["genes"]],
           pa.schema([("gene_rgd_id", pa.int64()), ("gene_id", s), ("symbol", s)]))
    _write(f"{aux_dir}/orthologs.parquet",
           [{"gene_rgd_id": a, "homolog_rgd_id": b, "homolog_species_type_key": c}
            for a, b, c in ref["orthologs"]],
           pa.schema([("gene_rgd_id", pa.int64()), ("homolog_rgd_id", pa.int64()),
                      ("homolog_species_type_key", pa.int32())]))
    _write(f"{aux_dir}/ont_terms.parquet",
           [{"acc_id": t["acc"], "ontology_id": t["ont"], "term": t["term"],
             "is_obsolete": t["obsolete"]} for t in ref["terms"]],
           pa.schema([("acc_id", s), ("ontology_id", s), ("term", s), ("is_obsolete", pa.bool_())]))
    _write(f"{aux_dir}/ont_synonyms.parquet",
           [{"term_acc": a, "name": n, "type": t} for a, n, t in ref["synonyms"]],
           pa.schema([("term_acc", s), ("name", s), ("type", s)]))
    _write(f"{aux_dir}/concept_omim.parquet",
           [{"cui": c["cui"], "gene_rgd_id": ref["genes"][c["gene"]]["rgd"], "omim_id": c["omim"]}
            for c in ref["concepts"]],
           pa.schema([("cui", s), ("gene_rgd_id", pa.int64()), ("omim_id", s)]))


def make_night(seed: int, n_base: int, root: str) -> dict:
    """Write release k-1's snapshot + annotations and release k's XML
    under ``root``; return the paths and tonight's expected outputs."""
    rnd = random.Random(seed)
    ref = make_reference(rnd)
    base = make_release(rnd, ref, n_base)
    tonight = churn(rnd, ref, base, next_aid=n_base + 1)

    # two nights on release k-1, so the previous snapshot is in steady
    # state (the first re-match of a variant re-orders its merged
    # clinical significance, which is not tonight's churn)
    first, _, _ = load(base, empty_state(), ref, PREV_TS - dt.timedelta(days=1))
    prev_state, _, _ = load(base, first, ref, PREV_TS)
    prev_state["annotations"], _, _ = annotate(prev_state, ref)

    paths = {"xml": f"{root}/release.xml", "genes": f"{root}/genes.parquet",
             "aux": f"{root}/aux", "prev": f"{root}/prev"}
    os.makedirs(root, exist_ok=True)
    write_reference(ref, paths["genes"], paths["aux"])
    write_state(prev_state, paths["prev"], f"{paths['aux']}/existing_annotations.parquet")
    xml_bytes = write_release(tonight, paths["xml"])

    state, load_c, load_stats = load(tonight, prev_state, ref, dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc))
    _, annot_c, tiers = annotate(state, ref)
    n_rs, vcf_c, lines = rs_and_vcf(state)
    expected = {
        "load": load_c, "annotate": annot_c, "rs": {"VARIANTS_WITH_RS_ID": n_rs},
        "vcf": vcf_c, "vcf_lines": lines, "tiers": tiers, "load_stats": load_stats,
    }
    return {"paths": paths, "records": len(tonight), "xml_bytes": xml_bytes,
            "expected": expected, "digest": digest(paths["xml"])}


def digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        h.update(f.read())
    return h.hexdigest()
