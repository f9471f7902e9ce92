"""Self-tests of the benchmark's own checks: each check must accept outputs
equal to the ground truth and reject one planted corruption, and the
generators must be deterministic per seed. Run from the repository root:

  python3 perfbench/run.py --selftest
"""
import copy
import hashlib
import os
import shutil

import checks
import gen

ROOT = os.path.abspath(os.path.join(".bench_build", "selftest"))


def tree_digest(d):
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(base, f)
            h.update(os.path.relpath(p, d).encode())
            h.update(open(p, "rb").read())
    return h.hexdigest()


def generated(kind, seed, tag):
    d = os.path.join(ROOT, f"{kind}-{seed}-{tag}")
    shutil.rmtree(d, ignore_errors=True)
    truth = gen.gen_pe(d, seed, scale=0.1) if kind == "pe" else gen.gen_ci(d, seed, n_batches=4)
    return tree_digest(d), truth


def pe_outputs(truth):
    """What a correct pipeline writes, as checks.read_pe_outputs reads it."""
    return {"seed": [list(r) for r in truth["seed"]],
            "detailed": [list(r) for r in truth["detailed"]],
            "founded": dict(truth["founded"]),
            "nested": {n: (ps or [(None, None, None)]) for n, ps in truth["nested"].items()},
            "portcos": [list(r) for r in truth["portcos"]]}


def ci_sinks(expect):
    """What a correct funnel emits into its two sinks."""
    curation, decisions = [], []
    for doc, stage in expect.items():
        d = int(doc)
        if stage == "kept":
            decisions.append([0, d, d, True])
        elif stage.startswith("near_dup/"):
            decisions.append([0, d, int(stage.split("/")[1]), False])
        else:
            s, reason = stage.split("/")
            curation.append([0, d, s, reason])
    return curation, decisions


def main():
    results = []

    def expect(name, cond):
        results.append((name, bool(cond)))
        print(("ok   " if cond else "FAIL ") + name)

    for kind in ("pe", "ci"):
        a, ta = generated(kind, 5, "a")
        b, tb = generated(kind, 5, "b")
        c, _ = generated(kind, 6, "c")
        expect(f"{kind} generator: same seed, byte-identical inputs and truth", a == b and ta == tb)
        expect(f"{kind} generator: another seed, different inputs", a != c)

    _, truth = generated("pe", 7, "t")
    got = pe_outputs(truth)
    expect("pe check accepts the truth", checks.check_pe(got, truth) == [])
    bad = copy.deepcopy(got)
    bad["seed"].pop(len(bad["seed"]) // 2)
    expect("pe check rejects a dropped firm", checks.check_pe(bad, truth))
    bad = copy.deepcopy(got)
    firm = next(n for n, y in bad["founded"].items() if y is not None)
    bad["founded"][firm] += 1
    expect("pe check rejects a wrong Founded_Year", checks.check_pe(bad, truth))
    bad = copy.deepcopy(got)
    i = next(i for i in range(1, len(bad["portcos"]))
             if bad["portcos"][i][4] != bad["portcos"][0][4])
    bad["portcos"][0][4], bad["portcos"][i][4] = bad["portcos"][i][4], bad["portcos"][0][4]
    expect("pe check rejects a swapped rank", checks.check_pe(bad, truth))

    _, truth = generated("ci", 7, "t")
    cur, dec = ci_sinks(truth["expect"])
    expect("ci check accepts the truth", checks.check_ci(cur, dec, truth["expect"], []) == [])
    expect("ci check rejects a doc missing from the funnel account",
           checks.check_ci(cur, dec[1:], truth["expect"], []))
    expect("ci check rejects an fsck warning",
           checks.check_ci(cur, dec, truth["expect"], [["warn", "d3", "x"]]))

    import pandas as pd
    want = pd.DataFrame({"k": [1, 2, 3], "name": ["a", "b", None], "v": [0.5, 1.25, 2.0]})
    got = want.iloc[::-1].reset_index(drop=True)
    expect("query check accepts an equal result in another row order",
           checks.frames_equal(got, want) == "")
    bad = got.copy()
    bad.loc[1, "v"] = 1.2500001
    expect("query check rejects one perturbed cell", checks.frames_equal(bad, want) != "")

    shutil.rmtree(ROOT, ignore_errors=True)
    failed = [n for n, ok in results if not ok]
    print(f"{len(results) - len(failed)}/{len(results)} self-tests passed")
    return 1 if failed else 0
