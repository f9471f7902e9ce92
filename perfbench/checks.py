"""Output checks of the benchmark: each compares what the program wrote with
a computation made apart from it (the generator's planted ground truth, or
DuckDB's evaluation of the oracle SQL). Every check returns a list of
problems; an empty list means the outputs are correct."""
import csv
import glob
import json
import os


# ------------------------------------------------------------ readers

def read_csv_dir(d):
    rows = []
    for p in sorted(glob.glob(os.path.join(d, "*.csv"))):
        with open(p, newline="") as f:
            rows += list(csv.DictReader(f))
    return rows


def read_json_dir(d):
    out = []
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as f:
            out += [json.loads(l) for l in f if l.strip()]
    return out


def read_pe_outputs(out):
    """The pipeline's written outputs as plain Python values."""
    import pyarrow.parquet as pq
    seed = sorted([r["FullName"], r["Website"]] for r in read_csv_dir(f"{out}/PE_firms"))
    detailed = sorted([r["FullName"], r["Website"], r["Phone"], r["Email"],
                       float(r["Latitude"]), float(r["Longitude"]), r["LongLatAddress"]]
                      for r in read_csv_dir(f"{out}/detailed_PE"))
    founded = {r["FullName"]: (int(r["Founded_Year"]) if r["Founded_Year"] else None)
               for r in read_csv_dir(f"{out}/founded")}
    nested = {d["firm_name"]: [(p.get("name"), p.get("url"), p.get("score"))
                               for p in d["portcos"]]
              for d in read_json_dir(f"{out}/nested")}
    t = pq.read_table(f"{out}/portcos").to_pydict()
    portcos = sorted([f, n, u, s, r] for f, n, u, s, r in zip(
        t["firm_name"], t["name"], t["url"], t["score"], t["rank"]))
    return {"seed": seed, "detailed": detailed, "founded": founded,
            "nested": nested, "portcos": portcos}


# ------------------------------------------------------------- checks

def check_pe(got, truth):
    bad = []
    if got["seed"] != truth["seed"]:
        miss = {tuple(r) for r in truth["seed"]} - {tuple(r) for r in got["seed"]}
        bad.append(f"seed CSV differs ({len(got['seed'])} rows, want "
                   f"{len(truth['seed'])}; missing e.g. {sorted(miss)[:2]})")
    if got["detailed"] != [list(r) for r in truth["detailed"]]:
        bad.append("detailed CSV differs from the first-seen members")
    wrong = [(n, got["founded"].get(n, "absent"), y)
             for n, y in truth["founded"].items() if got["founded"].get(n, "absent") != y]
    if wrong or len(got["founded"]) != len(truth["founded"]):
        bad.append(f"Founded_Year differs for {len(wrong)} firms, e.g. {wrong[:3]}")
    if got["portcos"] != truth["portcos"]:
        bad.append("portco scores/ranks differ from the rubric's closed form")
    # a firm without portcos keeps ONE all-null entry (Sinks.nestedAssembly)
    want_nested = {n: (ps if ps else [(None, None, None)])
                   for n, ps in truth["nested"].items()}
    got_nested = {n: [tuple(p) for p in ps] for n, ps in got["nested"].items()}
    if got_nested != {n: [tuple(p) for p in ps] for n, ps in want_nested.items()}:
        diff = [n for n in want_nested if got_nested.get(n) != [tuple(p) for p in want_nested[n]]]
        bad.append(f"nested documents differ for {len(diff) or 'extra'} firms, e.g. {diff[:2]}")
    return bad


def funnel_account(curation, decisions):
    """doc_id -> list of observed stages across the two sinks."""
    seen = {}
    for _, doc, stage, reason in curation:
        seen.setdefault(str(doc), []).append(f"{stage}/{reason}")
    for _, doc, keeper, keep in decisions:
        seen.setdefault(str(doc), []).append("kept" if keep else f"near_dup/{keeper}")
    return seen


def check_ci(curation, decisions, expect, fsck):
    bad = []
    seen = funnel_account(curation, decisions)
    twice = [d for d, s in seen.items() if len(s) != 1]
    if twice:
        bad.append(f"{len(twice)} docs accounted more than once, e.g. {twice[:3]}")
    missing = [d for d in expect if d not in seen]
    if missing:
        bad.append(f"{len(missing)} offered docs missing from the funnel account, e.g. {missing[:3]}")
    extra = [d for d in seen if d not in expect]
    if extra:
        bad.append(f"{len(extra)} unknown docs in the funnel account")
    wrong = [(d, seen[d][0], e) for d, e in expect.items() if d in seen and seen[d][0] != e]
    if wrong:
        bad.append(f"{len(wrong)} docs dropped at the wrong stage, e.g. {wrong[:3]}")
    warns = [f for f in fsck if f[0] == "warn"]
    if warns:
        bad.append(f"fsckStore warnings: {warns[:3]}")
    return bad


def funnel_counts(curation, decisions):
    q = sum(1 for c in curation if c[2] == "quality")
    dc = sum(1 for c in curation if c[2] == "decontam")
    nd = sum(1 for d in decisions if not d[3])
    kept = sum(1 for d in decisions if d[3])
    total = q + dc + nd + kept
    return {"funnel.quality_drops": q, "funnel.decontam_drops": dc,
            "funnel.near_dup_drops": nd, "funnel.kept": kept,
            "funnel.kept_ratio": kept / total if total else 0.0}


def frames_equal(got, want):
    """tools/oracle_check.py's compare: column names, row count, then exact
    cells after its canonical sort. Returns '' or the first difference."""
    import numpy as np
    import pandas as pd
    from oracle_check import canon
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns spark={list(got.columns)} duck={list(want.columns)}"
    if len(got) != len(want):
        return f"rows spark={len(got)} duck={len(want)}"
    for c in got.columns:
        a, b = got[c].values, want[c].values
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            eq = np.array_equal(a.astype("float64"), b.astype("float64"), equal_nan=True)
        else:
            eq = (pd.Series(a).astype(object).fillna("\0N") ==
                  pd.Series(b).astype(object).fillna("\0N")).all()
        if not eq:
            return f"value mismatch in column {c}"
    return ""
