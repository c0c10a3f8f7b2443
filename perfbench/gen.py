"""Seeded input generator.

Everything the benchmark feeds the program is made here from ``--seed``
alone, with ``random.Random(seed)`` / ``numpy.random.default_rng(seed)``:
the same seed writes byte-identical files.  Sizes are fixed constants so
every seed asks for the same amount of work; only the content varies.

Two input families:

- literature exports (``lit_etl``): PubMed tagged text in one file, Web of
  Science tagged text split into files of at most ``WOS_PER_FILE``
  records, ScienceDirect citation text, and an offline journal-metrics
  lookup.  About 30% of the exported records are cross-source duplicates
  whose DOI is written in a source-specific variant (``[doi]`` suffix,
  ``https://doi.org/`` and ``doi:`` prefixes, upper case).  The generator
  returns the ground truth: which record survives per DOI under the
  WOS > PubMed > ScienceDirect rule, the journal metrics each survivor
  must carry, and which records have no abstract (dropped at parse).
- registry tables (``registry``): the ten tables the query registry reads
  (TPC-H-like star schema, events, documents, embeddings), with the names,
  columns, types and value distributions of the project's synthetic test
  data and its sf0.01 row counts (the scale its DuckDB correctness tier
  runs at).  Near-duplicate documents follow that data's shape: 5% of the
  documents are lightly edited copies of an earlier original, so every
  cluster is a star around its smallest id and the connected-components
  fixpoint does one confirming round, as it does on the sf0.1 documents.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.probes import tree_size

# ------------------------------------------------------------ literature

# distinct works before export (~430 exported records, ~300 survivors): a
# warm pass costs ~12 s, of which the per-record share (parse, LLM map,
# workbook rows) is a few seconds; the paper-scale 15k records would take
# ~30 s per warm pass and ~50 s cold, more than one run can spend
N_WORKS = 300
DUP_FRAC = 0.43        # works exported twice: ~30% of records are duplicates
NO_DOI_FRAC = 0.12     # works without any DOI (never deduplicated)
NO_ABSTRACT_FRAC = 0.05  # exported records without an abstract (dropped)
WOS_PER_FILE = 200     # records per WOS export file (real exports cap at 1000)
PRIORITY = {"wos": 3, "pubmed": 2, "sciencedirect": 1}

WORDS = (
    "cohort trial patients outcome risk model analysis clinical data "
    "treatment effect protein cell gene expression response dose study "
    "sample signal network imaging marker survival therapy factor level "
    "baseline follow group control rate association review method"
).split()
MONTHS = "Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec".split()


def _journals(rng: random.Random) -> list[tuple[str, str, dict | None]]:
    """(display name, PubMed TA abbreviation, metrics or None)."""
    out = []
    for i in range(40):
        name = f"Journal of {rng.choice(WORDS).title()} {rng.choice(WORDS).title()} {i}"
        metrics = None
        if i % 4 != 3:  # a quarter of the journals are missing from the lookup
            metrics = {
                "impact_factor": f"{rng.uniform(0.5, 60):.3f}",
                "sci": rng.choice(["Q1", "Q2", "Q3", "Q4"]),
                "CAS_Zone": str(rng.randint(1, 4)),
            }
        out.append((name, f"J {name.split()[2]} {i}", metrics))
    return out


def _sentence(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def _wrap(text: str, width: int) -> list[str]:
    """Split at spaces into lines no longer than ``width`` (joining the
    lines with single spaces gives ``text`` back)."""
    lines, cur = [], ""
    for w in text.split(" "):
        if cur and len(cur) + 1 + len(w) > width:
            lines.append(cur)
            cur = w
        else:
            cur = f"{cur} {w}" if cur else w
    lines.append(cur)
    return lines


def _pubmed(rec: dict) -> str:
    w = rec["work"]
    out = [f"PMID- {rec['local_id']}", f"TI  - {w['title']}"]
    if rec["abstract"] is not None:
        first, *rest = _wrap(rec["abstract"], 70)
        out.append(f"AB  - {first}")
        out += [f"      {x}" for x in rest]
    for a in w["authors"]:
        out.append(f"FAU - {a[0]}, {a[1]}")
    for a in w["authors"]:
        out.append(f"AU  - {a[0]} {a[1][0]}")
    out.append(f"TA  - {w['journal'][1]}")
    out.append(f"JT  - {w['journal'][0]}")
    out.append(f"DP  - {w['year']} {MONTHS[w['month']]} {w['day']}")
    if rec["doi_text"] is not None:
        if rec["variant"] == 0:
            out.append(f"LID - {rec['doi_text']} [doi]")
        else:
            out.append(f"AID - S{rec['local_id']}-00 [pii]")
            out.append(f"AID - {rec['doi_text']} [doi]")
    out += [f"OT  - {k}" for k in w["keywords"]]
    out += ["LA  - eng", "PT  - Journal Article"]
    return "\n".join(out)


def _wos(rec: dict) -> str:
    w = rec["work"]
    out = ["PT J"]
    names = [f"{a[0]}, {a[1][0]}" for a in w["authors"]]
    out.append(f"AU {names[0]}")
    out += [f"   {n}" for n in names[1:]]
    full = [f"{a[0]}, {a[1]}" for a in w["authors"]]
    out.append(f"AF {full[0]}")
    out += [f"   {n}" for n in full[1:]]
    out.append(f"TI {w['title']}")
    out.append(f"SO {w['journal'][0].upper()}")
    if rec["abstract"] is not None:
        first, *rest = _wrap(rec["abstract"], 70)
        out.append(f"AB {first}")
        out += [f"   {x}" for x in rest]
    out.append("DE " + "; ".join(w["keywords"]))
    if rec["doi_text"] is not None:
        out.append(f"DI {rec['doi_text']}")
    out += [f"PY {w['year']}", f"VL {w['volume']}", f"IS {w['issue']}"]
    out += [f"TC {w['cited']}", f"UT {rec['local_id']}", "ER"]
    return "\n".join(out)


def _sciencedirect(rec: dict) -> str:
    w = rec["work"]
    out = [", ".join(f"{a[0]}, {a[1][0]}." for a in w["authors"]) + ","]
    out += [f"{w['title']},", f"{w['journal'][0]},"]
    out += [f"Volume {w['volume']}, Issue {w['issue']},", f"{w['year']},"]
    out.append(f"Pages {w['page']}-{w['page'] + 9},")
    if rec["doi_text"] is not None:
        out.append(rec["doi_text"])
    out.append(f"({rec['local_id']})")
    if rec["abstract"] is not None:
        out.append(f"Abstract: {rec['abstract']}")
    out.append("Keywords: " + "; ".join(w["keywords"]))
    return "\n".join(out)


def _doi_text(doi: str, source: str, variant: int) -> str:
    """Source-specific spelling of one canonical (lower-case) DOI."""
    d = doi.upper() if variant == 1 else doi
    if source == "sciencedirect":
        return f"https://doi.org/{d}" if variant != 2 else f"doi:{d}"
    return d


def make_literature(root: str, seed: int) -> dict:
    """Write the three exports + the metrics lookup under ``root``; return
    their paths and the ground truth."""
    rng = random.Random(seed)
    journals = _journals(rng)
    works = []
    for i in range(N_WORKS):
        year = rng.randint(2010, 2024)
        j = journals[rng.randrange(len(journals))]
        doi = None
        if rng.random() >= NO_DOI_FRAC:
            doi = f"10.{1000 + rng.randrange(9000)}/j{j[1].split()[-1]}.{year}.{i:05d}"
        homes = list(PRIORITY)
        home = rng.choice(homes)
        srcs = [home]
        if rng.random() < DUP_FRAC:
            srcs.append(rng.choice([s for s in homes if s != home]))
        works.append({
            "title": _sentence(rng, 6, 12).capitalize() + f" ({i})",
            "abstract": ". ".join(_sentence(rng, 8, 16) for _ in range(rng.randint(3, 6))) + ".",
            "authors": [
                (f"Author{rng.randrange(500)}", f"Given{rng.randrange(90)}")
                for _ in range(rng.randint(1, 4))
            ],
            "journal": j,
            "year": year,
            "month": rng.randrange(12),
            "day": rng.randint(1, 28),
            "volume": rng.randint(1, 90),
            "issue": rng.randint(1, 12),
            "page": rng.randint(1, 900),
            "cited": rng.randint(0, 300),
            "keywords": sorted({rng.choice(WORDS) for _ in range(3)}),
            "doi": doi,
            "sources": srcs,
        })
    records = {s: [] for s in PRIORITY}
    for wi, w in enumerate(works):
        for s in w["sources"]:
            n = len(records[s])
            local_id = {
                "pubmed": str(30000000 + seed % 1000 * 10000 + n),
                "wos": f"WOS:{seed % 100000:06d}{n:09d}",
                "sciencedirect": "https://www.sciencedirect.com/science/"
                f"article/pii/S{seed % 100000:06d}{n:010d}",
            }[s]
            variant = rng.randrange(3)
            has_abstract = rng.random() >= NO_ABSTRACT_FRAC
            records[s].append({
                "work": w,
                "wi": wi,
                "source": s,
                "local_id": local_id,
                "variant": variant,
                "doi_text": None if w["doi"] is None else _doi_text(w["doi"], s, variant),
                "abstract": w["abstract"] if has_abstract else None,
            })

    os.makedirs(root, exist_ok=True)
    paths = {}
    pm_dir = os.path.join(root, "pubmed")
    os.makedirs(pm_dir, exist_ok=True)
    with open(os.path.join(pm_dir, "pubmed.txt"), "w") as f:
        f.write("\n\n".join(_pubmed(r) for r in records["pubmed"]) + "\n")
    paths["pubmed"] = pm_dir
    wos_dir = os.path.join(root, "wos")
    os.makedirs(wos_dir, exist_ok=True)
    wrecs = records["wos"]
    for k in range(0, len(wrecs), WOS_PER_FILE):
        with open(os.path.join(wos_dir, f"savedrecs_{k // WOS_PER_FILE:03d}.txt"), "w") as f:
            f.write("FN Clarivate Analytics Web of Science\nVR 1.0\n")
            f.write("\n".join(_wos(r) for r in wrecs[k : k + WOS_PER_FILE]))
            f.write("\nEF\n")
    paths["wos"] = wos_dir
    sd_dir = os.path.join(root, "sciencedirect")
    os.makedirs(sd_dir, exist_ok=True)
    with open(os.path.join(sd_dir, "sciencedirect.txt"), "w") as f:
        f.write("\n\n".join(_sciencedirect(r) for r in records["sciencedirect"]) + "\n")
    paths["sciencedirect"] = sd_dir
    metrics_path = os.path.join(root, "journal_metrics.json")
    with open(metrics_path, "w") as f:
        for name, abbrev, m in journals:
            if m is not None:  # keyed by full name (WOS, ScienceDirect) and abbreviation (PubMed)
                for key in (name, abbrev):
                    f.write(json.dumps({"journal_norm": key.lower(), **m}) + "\n")

    # ground truth: parse drops no-abstract records; among the rest, one
    # survivor per canonical DOI (highest source priority); no-DOI rows all
    # survive
    kept = [r for s in PRIORITY for r in records[s] if r["abstract"] is not None]
    best: dict[str, dict] = {}
    survivors = []
    for r in kept:
        doi = r["work"]["doi"]
        if doi is None:
            survivors.append(r)
        elif doi not in best or PRIORITY[r["source"]] > PRIORITY[best[doi]["source"]]:
            best[doi] = r
    survivors += list(best.values())
    truth = {}
    for r in survivors:
        w = r["work"]
        m = w["journal"][2] or {}
        truth[(r["source"], r["local_id"])] = {
            "title": w["title"],
            "abstract": r["abstract"],
            "publication_year": str(w["year"]),
            "doi_link": f"https://doi.org/{w['doi']}" if w["doi"] else "",
            "impact_factor": m.get("impact_factor", ""),
            "sci": m.get("sci", ""),
            "CAS_Zone": m.get("CAS_Zone", ""),
        }
    n_raw = sum(len(v) for v in records.values())
    n_dup_records = sum(len(w["sources"]) - 1 for w in works)
    return {
        "paths": paths,
        "metrics_path": metrics_path,
        "truth": truth,
        "n_raw": n_raw,
        "n_parsed": len(kept),
        "dup_record_frac": n_dup_records / n_raw,
        "input_bytes": tree_size(root)[0],
    }


# ------------------------------------------------------------- registry

# rows per table: the project's synthetic test data at sf0.01; the
# vocabulary and value ranges follow the same data
SIZES = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}
DOC_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
NEAR_DUP_FRAC = 0.05  # documents that are edited copies of an earlier one
LANGS = ["en"] * 44 + ["zh"] * 15 + ["es"] * 15 + ["de"] * 14 + ["fr"] * 12
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]


def _ts(days: np.ndarray) -> pa.Array:
    base = np.datetime64("1995-01-01T00:00:00", "us")
    return pa.array(base + (days * 86_400_000_000).astype("timedelta64[us]"))


STREAM_FILES = 2  # events are also written as a 2-file stream source


def _write(root: str, name: str, cols: dict) -> None:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(root, f"{name}.parquet"))
    if name == "events":
        d = os.path.join(root, f"{name}_stream")
        os.makedirs(d, exist_ok=True)
        step = -(-table.num_rows // STREAM_FILES)
        for i in range(STREAM_FILES):
            pq.write_table(
                table.slice(i * step, step), os.path.join(d, f"part-{i:03d}.parquet")
            )


def make_tables(root: str, seed: int) -> dict:
    """Write the ten registry tables as ``<root>/<name>.parquet`` (plus the
    events again as a stream source dir)."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    n = SIZES
    _write(root, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(root, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    money = lambda lo, hi, k: np.round(rng.uniform(lo, hi, k), 2)  # noqa: E731
    _write(root, "customer", {
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"], dtype=np.int32),
        "c_acctbal": money(-999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(
            ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"], n["customer"]
        ),
    })
    _write(root, "supplier", {
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"], dtype=np.int32),
        "s_acctbal": money(-999.99, 9999.99, n["supplier"]),
    })
    adjs = ["small", "red", "blue", "hot", "green", "large", "cold", "steel"]
    nouns = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "valve"]
    _write(root, "part", {
        "p_partkey": np.arange(n["part"], dtype=np.int64),
        "p_name": [f"{rng.choice(adjs)} {rng.choice(nouns)}" for _ in range(n["part"])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], n["part"]),
        "p_size": rng.integers(1, 51, n["part"], dtype=np.int32),
        "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) * 0.1, 2),
    })
    no = n["orders"]
    _write(root, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], no, dtype=np.int64),
        "o_orderstatus": rng.choice(["P", "F", "O"], no),
        "o_totalprice": money(1000, 500000, no),
        "o_orderdate": _ts(rng.integers(0, 2404, no)),
        "o_orderpriority": rng.choice(
            ["5-LOW", "4-NOT SPECIFIED", "2-HIGH", "1-URGENT", "3-MEDIUM"], no
        ),
    })
    nl = n["lineitem"]
    _write(root, "lineitem", {
        "l_orderkey": rng.integers(0, no, nl, dtype=np.int64),
        "l_partkey": rng.integers(0, n["part"], nl, dtype=np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], nl, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, nl, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(900, 105000, nl),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts(rng.integers(1, 2499, nl)),
    })
    ne = n["events"]
    gaps = rng.exponential(30 * 86_400_000_000 / ne, ne).astype(np.int64)
    ev_us = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    _write(root, "events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ev_us),
        "user_id": rng.integers(0, 150, ne, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(np.maximum(rng.exponential(50, ne), 0.01), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts = [" ".join(rng.choice(DOC_WORDS, int(rng.integers(8, 100)))) for _ in range(nd)]
    copies = set(rng.choice(np.arange(nd // 10, nd), int(nd * NEAR_DUP_FRAC), replace=False).tolist())
    originals = [i for i in range(nd) if i not in copies]
    for i in sorted(copies):
        # a copy of a random earlier original with one word appended or
        # the last one dropped (shingle Jaccard well above 0.6)
        src = texts[originals[int(rng.integers(0, np.searchsorted(originals, i)))]]
        texts[i] = src + " dup" if rng.random() < 0.5 else src.rsplit(" ", 1)[0]
    _write(root, "documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv, dtype=np.int32)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.35 + rng.normal(0, 1, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(root, "embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels,
    })
    return {"dir": root, "input_bytes": tree_size(root)[0]}
