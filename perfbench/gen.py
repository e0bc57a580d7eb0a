"""Seeded, reference-shaped inputs for the gene-pipeline benchmark.

``generate(seed, scale)`` builds every source table in memory (pyarrow),
then two writers lay them out on disk:

* ``write_bronze`` — the tidy stage's input: one Parquet file per source,
  written by pyarrow, so nothing in the package's import code shapes it;
* ``write_raw`` — the import stage's input: the same sources in the messy
  formats the readers exist for (banner skip-N, headerless, whitespace
  ``sep=None``, ``.zip``, ``.gz``, RFC-4180 multiline, a multi-sheet
  workbook, paged JSON, the genes-as-columns DepMap matrix, the STRING
  edge list). It returns each raw source's expected bronze row count.

The spine follows HGNC's ``hgnc_complete_set`` (pipe-packed prev/alias/
MGI/UniProt/group columns, ``""`` sentinels, NULL symbols, exact dup
rows); the other sources follow the shapes the builders in
``plans.gene_pipeline`` consume. Same seed, same bytes.
"""

from __future__ import annotations

import csv
import gzip
import io
import json
import os
import zipfile
from dataclasses import dataclass
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LETHAL_TERMS = [f"MP:{1000 + i:07d}" for i in range(10)]
VIABILITY = ["viable", "lethal", "subviable"]
LETHALITY_CATS = ["L1", "L2", "L3", "L4", "L5", "L6", "LU", "NL", "-"]
TRAITS = ["Height", "Body mass index", "Type 2 diabetes", "LDL cholesterol",
          "Schizophrenia", "Blood pressure", "Asthma", "Educational attainment"]


@dataclass(frozen=True)
class Scale:
    """Input sizes. ``genes`` is the spine; the rest scale from it."""

    genes: int = 4000
    depmap_genes: int = 2000   # DepMap matrix width (gene columns)
    depmap_models: int = 40    # DepMap matrix height (model rows)
    edges_per_gene: int = 6    # STRING edge list length / genes
    json_pages: int = 4        # PanelApp pages


# the sizes the source pipeline documents: a ~20k-gene HGNC spine and the
# ~18k genes x ~1.1k models DepMap CRISPRGeneEffect matrix
REFERENCE = Scale(genes=20000, depmap_genes=18000, depmap_models=1100)


def _letters(rng, n, k):
    codes = rng.integers(0, 26, size=(n, k)) + ord("A")
    return ["".join(map(chr, row)) for row in codes]


def _pick(rng, values, n):
    return [values[i] for i in rng.choice(len(values), size=n)]


def _packed(rng, pool, n, max_k, empty=0.2, sep="|"):
    """Pipe-packed multi-value strings, ``""`` for a share of rows."""
    out = []
    for _ in range(n):
        if rng.random() < empty:
            out.append("")
        else:
            k = int(rng.integers(1, max_k + 1))
            out.append(sep.join(pool[j] for j in rng.choice(len(pool), k, replace=False)))
    return out


def _round(x, d=4):
    return [round(float(v), d) for v in x]


def generate(seed: int, scale: Scale = Scale()) -> dict[str, pa.Table]:
    """Every source table, keyed by source name."""
    rng = np.random.default_rng(seed)
    n = scale.genes
    idx = np.arange(n)
    symbols = [f"{p}{i}" for p, i in zip(_letters(rng, n, 3), idx)]
    hgnc_ids = [f"HGNC:{10000 + i}" for i in idx]
    entrez = rng.permutation(n) + 1000
    ensg = [f"ENSG{5000000 + i:011d}" for i in idx]
    mgi = [f"MGI:{90000 + i}" for i in idx]
    uniprot = [f"P{300000 + i}" for i in idx]
    groups = [f"Group{g}" for g in range(max(8, n // 50))]
    T: dict[str, pa.Table] = {}

    # -- HGNC spine source ------------------------------------------------
    mgd = []
    for i in idx:
        ids = [mgi[i]]
        if rng.random() < 0.03:  # one symbol -> two MGI ids (conflict fodder)
            ids.append(mgi[(i + 1) % n])
        mgd.append("|".join(ids) if rng.random() > 0.05 else "")
    uni = []
    for i in idx:
        k = int(rng.integers(0, 3))
        uni.append("|".join([uniprot[i]] + [f"Q{700000 + i * 3 + j}" for j in range(k)])
                   if rng.random() > 0.1 else "")
    group = _packed(rng, groups, n, 2, empty=0.25)
    group = [None if (g == "" and rng.random() < 0.4) else g for g in group]
    names = [" ".join(_pick(rng, ["kinase", "protein", "RNA", "binding", "factor",
                                  "domain", "containing", "family", "member"], 3))
             if rng.random() > 0.05 else "" for _ in idx]
    prev_pool = [f"OLD{i}" for i in range(2 * n)]
    alias_pool = [f"AL{i}" for i in range(2 * n)]
    sym_col = [s if rng.random() > 0.005 else None for s in symbols]
    rows = {
        "symbol": sym_col,
        "hgnc_id": hgnc_ids,
        "entrez_id": [int(e) if rng.random() > 0.02 else None for e in entrez],
        "ensembl_gene_id": ensg,
        "name": names,
        "prev_symbol": _packed(rng, prev_pool, n, 3, empty=0.5),
        "alias_symbol": _packed(rng, alias_pool, n, 3, empty=0.4),
        "mgd_id": mgd,
        "uniprot_ids": uni,
        "gene_group": group,
    }
    dups = rng.choice(n, size=max(1, n // 100), replace=False)  # exact dup rows
    for k in rows:
        rows[k] = rows[k] + [rows[k][i] for i in dups]
    T["hgnc"] = pa.table(rows)
    live = [i for i in idx if sym_col[i] is not None]

    # -- mouse: viability, phenotype reports ---------------------------------
    m = rng.choice(n, size=int(0.6 * n), replace=False)
    T["mouse_viability"] = pa.table({
        "mgi_id": [mgi[i] for i in m],
        "viability": _pick(rng, VIABILITY, len(m)),
        "comment": ["conflicting evidence" if rng.random() < 0.05 else "" for _ in m],
    })
    k = 2 * n
    terms = LETHAL_TERMS + [f"MP:{5000 + i:07d}" for i in range(200)]
    T["mgi_phenotypes"] = pa.table({
        "mgi_id": [mgi[i] for i in rng.integers(0, n, k)],
        "mp_term": _pick(rng, terms, k),
    })

    # -- STRING: id map + hub-skewed edge list ----------------------------
    mapped = rng.choice(n, size=int(0.9 * n), replace=False)
    ensp = {i: f"9606.ENSP{7000000 + i:011d}" for i in mapped}
    T["string_map"] = pa.table({
        "ensembl_gene_id": [ensg[i] for i in mapped],
        "STRING_id": [ensp[i] for i in mapped],
    })
    e = scale.edges_per_gene * n
    weights = 1.0 / np.arange(1, len(mapped) + 1) ** 0.8  # a few hub proteins
    src = rng.choice(mapped, size=e, p=weights / weights.sum())
    dst = rng.choice(mapped, size=e)
    pairs = sorted({(int(a), int(b)) for a, b in zip(src, dst) if a != b})
    unmapped = [f"9606.ENSP{8000000 + i:011d}" for i in range(len(pairs) // 50)]
    T["string_interactions"] = pa.table({
        "from": [ensp[a] for a, _ in pairs] + _pick(rng, list(ensp.values()), len(unmapped)),
        "to": [ensp[b] for _, b in pairs] + unmapped,
        "combined_score": rng.integers(700, 1001, len(pairs) + len(unmapped)).tolist(),
    })

    # -- OMIM lethality, orthologs ---------------------------------------
    om = rng.choice(live, size=int(0.3 * n), replace=False)
    T["omim_lethal"] = pa.table({
        "gene_symbol": [symbols[i] for i in om],
        "gene_lethal_summary": _pick(rng, ["lethal", "nonlethal", "-"], len(om)),
        "earliest_lethality_category": _pick(rng, LETHALITY_CATS, len(om)),
    })
    T["orthologs"] = pa.table({
        "human_symbol": symbols + [f"NOTSPINE{i}" for i in range(n // 20)],
        "mouse_symbol": [f"{s.capitalize()}m" for s in symbols] + ["Gx"] * (n // 20),
        "support": [str(v) for v in rng.integers(1, 13, n + n // 20)],
    })

    # -- MANE / gnomAD constraint ----------------------------------------
    tx_gene = np.sort(rng.integers(0, n, int(1.5 * n)))
    enst = [f"ENST{6000000 + t:011d}" for t in range(len(tx_gene))]
    mane_sel, canon = [], []
    for _ in tx_gene:
        u = rng.random()
        mane_sel.append(f"NM_{int(rng.integers(1, 10**6)):06d}.1" if u < 0.4 else "")
        canon.append(1 if (u < 0.25 or 0.55 < u < 0.8) else None)
    T["mane"] = pa.table({
        "hgnc_symbol": [symbols[i] for i in tx_gene],
        "ensembl_transcript_id": enst,
        "transcript_mane_select": mane_sel,
        "transcript_is_canonical": pa.array(canon, pa.int32()),
    })
    gn_rows = rng.choice(len(enst), size=int(0.9 * len(enst)), replace=False)
    T["gnomad"] = pa.table({
        "gene": [symbols[tx_gene[t]] for t in gn_rows],
        "transcript": [enst[t] for t in gn_rows],
        "mane_select": ["true" if mane_sel[t] else "false" for t in gn_rows],
        "lof.oe_ci.upper": _round(rng.uniform(0.05, 2.0, len(gn_rows)), 3),
        "mis.oe_ci.upper": _round(rng.uniform(0.3, 1.6, len(gn_rows)), 3),
        "constraint_flags": _pick(rng, ["no flags", "low lof count", "outlier mis"],
                                  len(gn_rows)),
    })

    # -- Rosen screen scores (TM), two sheets of one workbook -------------
    for sheet, label in (("rosen_pluripotency", "NE_pluripotency_score"),
                         ("rosen_self_renewal", "E8_self_renewal_score")):
        ro = rng.choice(n, size=int(0.5 * n), replace=False)
        cols = {"X1": ["gene"] + [symbols[i] for i in ro]}
        for c in range(2, 11):
            cols[f"X{c}"] = [f"h{c}"] + [f"{v:.3f}" for v in rng.normal(0, 1, len(ro))]
        cols["X11"] = [label] + [f"{v:.4f}" for v in rng.normal(0, 2, len(ro))]
        T[sheet] = pa.table(cols)

    # -- web-file tables (TW) -----------------------------------------------
    dg = rng.choice(n, size=min(scale.depmap_genes, n), replace=False)
    ge = {"model_id": [f"ACH-{i:06d}" for i in range(scale.depmap_models)]}
    effects = rng.normal(-0.3, 0.5, size=(scale.depmap_models, len(dg)))
    for j, gi_ in enumerate(dg):
        ge[f"{symbols[gi_]} ({int(entrez[gi_])})"] = _round(effects[:, j])
    T["gene_effect"] = pa.table(ge)
    gt = {"Name": [f"{ensg[i]}.{int(rng.integers(1, 20))}" for i in idx]
          + [f"{ensg[i]}_PAR_Y.3" for i in range(n // 100)]
          + [f"ENSGDEAD{i}.2" for i in range(n // 50)]}
    gt_n = len(gt["Name"])
    gt["Description"] = [f"desc {i}" for i in range(gt_n)]
    for tissue in ("Liver", "Brain", "Heart", "Lung", "Kidney", "Muscle",
                   "Skin", "Spleen", "Testis", "Thyroid", "Blood", "Colon"):
        gt[tissue] = _round(rng.gamma(1.0, 20.0, gt_n), 5)
    T["gtex"] = pa.table(gt)
    db = rng.choice(n, size=int(0.9 * n), replace=False)
    traits = []
    for _ in db:
        u = rng.random()
        if u < 0.3:
            traits.append(".")
        elif u < 0.35:
            traits.append(None)
        else:
            k = int(rng.integers(1, 4))
            traits.append("; ".join(f"{t}[PMID{int(rng.integers(1, 10**7))}]"
                                    for t in _pick(rng, TRAITS, k)))
    T["dbnsfp"] = pa.table({
        "Gene_name": [symbols[i] for i in db],
        "ClinGen_Haploinsufficiency_Score": _pick(rng, [".", ".", "0", "1", "2", "3"], len(db)),
        "Trait_association(GWAS)": traits,
    })
    return T


# ---------------------------------------------------------------------------
# bronze Parquet (tidy input)
# ---------------------------------------------------------------------------


def write_bronze(tables: dict[str, pa.Table], root: str) -> dict[str, int]:
    """One Parquet file per source under ``root/<source>/``; returns bytes
    written per source."""
    sizes = {}
    for name, t in tables.items():
        d = os.path.join(root, name)
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, "part-0.parquet")
        pq.write_table(t, path)
        sizes[name] = os.path.getsize(path)
    return sizes


# ---------------------------------------------------------------------------
# raw files (import input)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class RawSource:
    """One raw file and how the import stage reads it."""

    name: str
    path: str
    reader: str            # "read_delim" | "read_excel" | "read_json_pages"
    kwargs: dict
    rows: int              # expected bronze row count
    bytes: int


def _cell(v) -> str:
    return "" if v is None else str(v)


def _delim_text(t: pa.Table, sep: str, header: bool = True, quote_all=False) -> str:
    buf = io.StringIO()
    w = csv.writer(buf, delimiter=sep, lineterminator="\n",
                   quoting=csv.QUOTE_ALL if quote_all else csv.QUOTE_MINIMAL)
    if header:
        w.writerow(t.column_names)
    for row in zip(*(c.to_pylist() for c in t.columns)):
        w.writerow([_cell(v) for v in row])
    return buf.getvalue()


def _xlsx_bytes(sheets: dict[str, pa.Table]) -> bytes:
    """Minimal multi-sheet workbook (inline-string cells, numbers as <v>)."""
    def col(j):
        s = ""
        j += 1
        while j:
            j, r = divmod(j - 1, 26)
            s = chr(65 + r) + s
        return s

    def sheet_xml(t):
        out = ['<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns='
               '"http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>']
        rows = [t.column_names] + [list(r) for r in zip(*(c.to_pylist() for c in t.columns))]
        for i, row in enumerate(rows, 1):
            out.append(f'<row r="{i}">')
            for j, v in enumerate(row):
                ref = f"{col(j)}{i}"
                if isinstance(v, (int, float)) and not isinstance(v, bool):
                    out.append(f'<c r="{ref}"><v>{v}</v></c>')
                elif v is not None:
                    out.append(f'<c r="{ref}" t="inlineStr"><is><t>{escape(str(v))}</t></is></c>')
            out.append("</row>")
        out.append("</sheetData></worksheet>")
        return "".join(out)

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    names = list(sheets)
    wb = (f'<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="{ns}" '
          f'xmlns:r="{rel}"><sheets>'
          + "".join(f'<sheet name="{s}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
                    for i, s in enumerate(names))
          + "</sheets></workbook>")
    rels = ('<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns='
            '"http://schemas.openxmlformats.org/package/2006/relationships">'
            + "".join(f'<Relationship Id="rId{i + 1}" Type="{rel}/worksheet" '
                      f'Target="worksheets/sheet{i + 1}.xml"/>' for i in range(len(names)))
            + "</Relationships>")
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("xl/workbook.xml", wb)
        z.writestr("xl/_rels/workbook.xml.rels", rels)
        for i, s in enumerate(names):
            z.writestr(f"xl/worksheets/sheet{i + 1}.xml", sheet_xml(sheets[s]))
    return buf.getvalue()


def _panelapp_pages(rng, symbols: list[str], pages: int, per_page: int) -> list[str]:
    out = []
    for p in range(pages):
        lines = []
        for i in range(per_page):
            rec = {
                "gene_data": {"gene_symbol": symbols[int(rng.integers(0, len(symbols)))]},
                "entity_type": "gene",
                "confidence_level": str(int(rng.integers(1, 4))),
                "mode_of_inheritance": ["MONOALLELIC", "BIALLELIC", None][int(rng.integers(0, 3))],
                "panel": {"id": int(rng.integers(1, 300)), "name": f"Panel {p}-{i % 37}",
                          "disease_group": ["", "Neurology", "Cardiology"][int(rng.integers(0, 3))]},
            }
            lines.append(json.dumps(rec))
        out.append("\n".join(lines) + "\n")
    return out


PANELAPP_LEAVES = 7  # gene_data.gene_symbol, entity_type, confidence_level,
                     # mode_of_inheritance, panel.{id,name,disease_group}


def write_raw(tables: dict[str, pa.Table], root: str, seed: int,
              scale: Scale = Scale()) -> list[RawSource]:
    """Lay the import stage's sources out in their messy raw formats."""
    os.makedirs(root, exist_ok=True)
    out: list[RawSource] = []

    def put(name, fname, data, reader, kwargs, rows):
        path = os.path.join(root, fname)
        mode = "wb" if isinstance(data, bytes) else "w"
        with open(path, mode) as f:
            f.write(data)
        out.append(RawSource(name, path, reader, kwargs, rows, os.path.getsize(path)))

    n = lambda t: tables[t].num_rows  # noqa: E731
    # plain TSV with header (the HGNC complete set)
    put("hgnc", "hgnc_complete_set.txt", _delim_text(tables["hgnc"], "\t"),
        "read_delim", {"sep": "\t"}, n("hgnc"))
    # banner skip-N, gzipped (GTEx .gct.gz: "#1.2" + dims line)
    gtex = tables["gtex"]
    gct = f"#1.2\n{gtex.num_rows}\t{gtex.num_columns - 2}\n" + _delim_text(gtex, "\t")
    put("gtex", "gtex_median_tpm.gct.gz", gzip.compress(gct.encode(), mtime=0),
        "read_delim", {"sep": "\t", "skip": 2}, n("gtex"))
    # headerless CSV, 8 positional columns (MGI GenePheno: V5 term, V7 MGI id)
    ph = tables["mgi_phenotypes"]
    ph8 = pa.table({
        "V1": [f"allele{i}" for i in range(ph.num_rows)],
        "V2": ["hom"] * ph.num_rows, "V3": ["BL6"] * ph.num_rows,
        "V4": ["Tg"] * ph.num_rows, "V5": ph["mp_term"], "V6": ["J:1"] * ph.num_rows,
        "V7": ph["mgi_id"], "V8": ["MGI"] * ph.num_rows,
    })
    put("mgi_phenotypes", "MGI_GenePheno.rpt.csv", _delim_text(ph8, ",", header=False),
        "read_delim", {"sep": ",", "header": False}, ph.num_rows)
    # whitespace table, sep=None, quoted fields with interior spaces, blank lines
    gn = tables["gnomad"]
    lines = [" ".join(gn.column_names)]
    for i, row in enumerate(zip(*(c.to_pylist() for c in gn.columns))):
        *head, flags = row
        lines.append("  ".join(str(v) for v in head) + f' "{flags}"')
        if i % 500 == 499:
            lines.append("")
    put("gnomad", "gnomad_constraint_metrics.txt", "\n".join(lines) + "\n",
        "read_delim", {"sep": None}, n("gnomad"))
    # zip-wrapped TSV
    zbuf = io.BytesIO()
    with zipfile.ZipFile(zbuf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("HMD_HumanPhenotype.tsv", _delim_text(tables["orthologs"], "\t"))
    put("orthologs", "HMD_HumanPhenotype.zip", zbuf.getvalue(),
        "read_delim", {"sep": "\t"}, n("orthologs"))
    # STRING edge list, space separated, gzipped
    put("string_interactions", "9606.protein.links.txt.gz",
        gzip.compress(_delim_text(tables["string_interactions"], " ").encode(), mtime=0),
        "read_delim", {"sep": " "}, n("string_interactions"))
    # RFC-4180 multiline: GWAS traits with embedded newlines and "" quotes
    db = tables["dbnsfp"]
    traits = [None if t is None else t.replace("; ", ';\n"') + '"' if t != "." else t
              for t in db["Trait_association(GWAS)"].to_pylist()]
    db_ml = db.set_column(2, "Trait_association(GWAS)", pa.array(traits, pa.string()))
    put("dbnsfp", "dbNSFP_gene.csv", _delim_text(db_ml, ",", quote_all=True),
        "read_delim", {"sep": ",", "multiline": True}, n("dbnsfp"))
    # genes-as-columns DepMap matrix; first header cell empty (R's ...1)
    ge = tables["gene_effect"]
    ge_txt = _delim_text(ge, ",")
    put("gene_effect", "CRISPRGeneEffect.csv", "," + ge_txt.split(",", 1)[1],
        "read_delim", {"sep": ","}, n("gene_effect"))
    # multi-sheet workbook: sheet by index, sheet by name
    wb = {"pluripotency": tables["rosen_pluripotency"],
          "self_renewal": tables["rosen_self_renewal"]}
    xlsx = _xlsx_bytes(wb)
    put("rosen_pluripotency", "rosen_2024_supplement.xlsx", xlsx,
        "read_excel", {"sheet": 0}, n("rosen_pluripotency"))
    path = out[-1].path
    out.append(RawSource("rosen_self_renewal", path, "read_excel",
                         {"sheet": "self_renewal"}, n("rosen_self_renewal"), len(xlsx)))
    # paged PanelApp JSON, flattened to (record_id, name, value)
    rng = np.random.default_rng(seed + 1)
    per_page = max(1, scale.genes // 8)
    pages = _panelapp_pages(rng, tables["hgnc"]["hgnc_id"].to_pylist(),
                            scale.json_pages, per_page)
    page_paths = []
    for p, txt in enumerate(pages):
        pp = os.path.join(root, f"panelapp_page{p}.json")
        with open(pp, "w") as f:
            f.write(txt)
        page_paths.append(pp)
    out.append(RawSource("panelapp", ",".join(page_paths), "read_json_pages",
                         {"flatten_kv": True}, scale.json_pages * per_page * PANELAPP_LEAVES,
                         sum(os.path.getsize(p) for p in page_paths)))
    return out
