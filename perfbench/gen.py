"""Seeded input generators for the benchmark workloads.

Each generator writes its inputs under a directory and returns the ground
truth it planted, computed here from the planted values alone (never by
running the program's code). The same seed gives byte-identical files.
"""
import json
import os
import random

# ---------------------------------------------------------------- words

_CONS = "bcdfghjklmnprstvwz"
_VOW = "aeiou"


def _word(rng, lo=4, hi=8):
    n = rng.randint(lo, hi)
    return "".join(rng.choice(_CONS if i % 2 == 0 else _VOW) for i in range(n))


def _vocab(rng, n, prefix=""):
    out, seen = [], set()
    while len(out) < n:
        w = prefix + _word(rng)
        # "june" is a date word the founded-year gate rejects
        if w not in seen and w != prefix + "june":
            seen.add(w)
            out.append(w)
    return out


def _write_jsonl(path, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, sort_keys=True, separators=(",", ":")) + "\n")


def _write_shards(d, stem, rows, n):
    for i in range(n):
        _write_jsonl(os.path.join(d, f"{stem}_{i:02d}.jsonl"), rows[i::n])


# ---------------------------------------------------------- pe_pipeline

# Sizes of the input. Counts are fixed, so every seed gives the same amount
# of work; the seed changes content, placement and order.
PE_SIZES = {"firms": 200, "log_files": 24, "lines_per_file": 12,
            "members_per_line": 30, "portcos_per_page": 12}

# Planted Founded_Year escalation paths, cycled over the firms.
YEAR_PATHS = ["consensus", "consensus_extra", "vote", "priority_jsonld",
              "priority_relevant", "gated", "no_texts"]

# Planted portco card shapes (PipelineQueries.portcoRanks' rubric cases):
# shape -> (score, rank). 0: A card + matching anchor + script inside;
# 1: A card + script inside; 2: B card with the script outside it;
# 4: A card + <strong> name hint + script inside; 3: no card on the page.
SHAPES = {0: (2.2, "A"), 1: (1.3, "B"), 2: (1.0, "C"), 4: (2.0, "A"), 3: (0.0, "D")}

# Page modes, cycled over the firms that have pages.
PAGE_MODES = ["cards", "cards", "cards", "no_card", "no_entities"]


def _member(rng, mid, name, site, kind, australia):
    city = rng.choice(["Sydney", "Melbourne", "Perth", "Brisbane", "Hobart"])
    country = "Australia" if australia else rng.choice(["New Zealand", "Singapore"])
    return {
        "$type": "AIC.Member, AIC", "ID": mid, "FullName": name,
        "FullName5": name[:5], "Company": None,
        "Email": "" if mid % 7 == 0 else f"info{mid}@example.com",
        "Phone": f"+61 2 {mid % 10000:04d} {mid % 997:04d}",
        "Website": site,
        "Latitude": round(-33.0 - rng.random() * 10, 6),
        "Longitude": round(115.0 + rng.random() * 35, 6),
        "LongLatAddress": f"{mid} Level {mid % 40}, {city} NSW 2000, {country}",
        "Radius": None, "UserId": 100000 + mid, "ExcludeDirectory": False,
        "filter-Member Type": kind,
    }


def gen_pe(root, seed, scale=1.0):
    """Crawl logs, (website, method, text) rows and portfolio pages.

    Returns the ground truth: seed rows, detailed rows, Founded_Year per
    firm, and the nested document per firm."""
    rng = random.Random(seed)
    n_firms = max(8, int(PE_SIZES["firms"] * scale))
    n_files = max(3, int(PE_SIZES["log_files"] * scale))
    words = _vocab(rng, 600)
    pc_words = _vocab(rng, 400, prefix="q")

    # target firms (PE, Australian), each planted 1-3 times across files
    firms = []
    for i in range(n_firms):
        name = f"{words[i % len(words)].title()} {words[(7 * i + 3) % len(words)].title()} Capital {i:05d}"
        slug = name.lower().replace(" ", "")
        firms.append({"name": name, "site": f"https://www.{slug}.com.au", "idx": i})

    # every log line: (file, line, list of member dicts)
    slots = [[[] for _ in range(PE_SIZES["lines_per_file"])] for _ in range(n_files)]
    mid = [1000]

    def nid():
        mid[0] += rng.randint(1, 5)
        return mid[0]

    occurrences = {}  # firm name -> list of (file, pos, ID, member)
    for f in firms:
        for _ in range([1, 1, 2, 3][f["idx"] % 4]):
            fi, li = rng.randrange(n_files), rng.randrange(PE_SIZES["lines_per_file"])
            m = _member(rng, nid(), f["name"], f["site"], rng.choice(["PE", "PE", "private equity"]), True)
            slots[fi][li].append(m)
    # noise members: other member types, non-Australian PE firms
    n_noise = n_files * PE_SIZES["lines_per_file"] * PE_SIZES["members_per_line"] - sum(
        len(l) for fl in slots for l in fl)
    for j in range(max(n_noise, n_firms)):
        fi, li = rng.randrange(n_files), rng.randrange(PE_SIZES["lines_per_file"])
        nm = f"{rng.choice(words).title()} {rng.choice(words).title()} Group {j:05d}"
        if j % 3 == 0:
            m = _member(rng, nid(), nm, f"https://www.noise{j}.com", "PE", False)
        else:
            m = _member(rng, nid(), nm, f"https://www.noise{j}.com",
                        rng.choice(["VC", "CORP", "II", "NM", "ESA"]), True)
        slots[fi][li].append(m)

    logs = os.path.join(root, "logs")
    os.makedirs(logs, exist_ok=True)
    for fi in range(n_files):
        rows = []
        for li in range(PE_SIZES["lines_per_file"]):
            ms = slots[fi][li]
            rng.shuffle(ms)
            env = {"datetime": f"2025-10-23T11:{li:02d}:03.151410",
                   "url": f"https://api.investmentcouncil.com.au/members?offset={li * 30}",
                   "status": 200, "headers": {"content-type": "application/json"},
                   "JSON": {"$type": "Paged", "Items": {"$type": "List", "$values": ms},
                            "Offset": li * 30, "Limit": 30, "Count": len(ms)}}
            rows.append(env)
            for pos, m in enumerate(ms):
                if m["filter-Member Type"] in ("PE", "private equity") and "Australia" in m["LongLatAddress"]:
                    occurrences.setdefault(m["FullName"], []).append(
                        (f"aic_responses_{fi:03d}.jsonl", pos, m["ID"], m))
            if li % 4 == 1:  # a licensing payload: same shell, no member records
                rows.append({"datetime": env["datetime"], "url": env["url"], "status": 200,
                             "headers": {}, "JSON": {"$type": "Content", "Items": {
                                 "$type": "List", "$values": [{"$type": "Licence", "Title": "terms"}]}}})
            if li % 5 == 2:  # a maps response and a failed fetch, both filtered
                rows.append({"datetime": env["datetime"],
                             "url": "https://maps.googleapis.com/maps/api/js?investmentcouncil.com.au",
                             "status": 200, "headers": {}, "JSON": env["JSON"]})
                rows.append(dict(env, status=500))
        _write_jsonl(os.path.join(logs, f"aic_responses_{fi:03d}.jsonl"), rows)

    # first-seen member per firm name: order by (file, pos, ID)
    seen = {n: min(occ, key=lambda o: (o[0], o[1], o[2]))[3] for n, occ in occurrences.items()}
    seed_rows = sorted((m["FullName"], m["Website"]) for m in seen.values())
    detailed = sorted((m["FullName"], m["Website"], m["Phone"], m["Email"], m["Latitude"],
                       m["Longitude"], m["LongLatAddress"]) for m in seen.values())
    site_of = {m["FullName"]: m["Website"] for m in seen.values()}

    # ---- (website, method, text), planted escalation paths
    texts, years = [], {}
    for f in firms:
        site = site_of[f["name"]]
        path = YEAR_PATHS[f["idx"] % len(YEAR_PATHS)]
        y = 1900 + rng.randrange(120)
        y2 = 1900 + (y - 1900 + 1 + rng.randrange(100)) % 120
        filler = " ".join(rng.choice(words) for _ in range(40))
        if path in ("consensus", "consensus_extra"):
            extra = f" and closed fund two in {y2}" if path == "consensus_extra" else ""
            rows = [("jsonld", json.dumps({"name": f["name"], "foundingDate": f"{y}-03-01"})),
                    ("relevant", f"Established in {y}, the firm backs growth {filler}"),
                    ("homepage", f"Founded {y}{extra}. {filler}"),
                    ("google", f"{f['name']} established {y} private equity")]
            years[f["name"]] = y
        elif path == "vote":
            rows = [("relevant", f"Since {y2} the partners {filler}"),
                    ("homepage", f"Founded in {y}. {filler}"),
                    ("google", f"established {y} investment firm")]
            years[f["name"]] = y
        elif path == "priority_jsonld":
            rows = [("jsonld", json.dumps({"foundingDate": str(y)})),
                    ("homepage", f"Founded in {y2}. {filler}")]
            years[f["name"]] = y
        elif path == "priority_relevant":
            g = next(x for x in range(1900, 2020) if x not in (y, y2))
            rows = [("relevant", f"Founded in {y} by its partners {filler}"),
                    ("homepage", f"Since {y2} {filler}"),
                    ("google", f"Established {g} growth investor")]
            years[f["name"]] = y
        elif path == "gated":  # anchors next to address or date words
            rows = [("homepage", f"Founded in {y}. Visit our head office {filler}"),
                    ("google", f"established {y} on Monday"),
                    ("relevant", f"Our {filler} vision for 2150"),
                    ("jsonld", json.dumps({"name": f["name"]}))]
            years[f["name"]] = None
        else:
            rows = []
            years[f["name"]] = None
        texts += [{"website": site, "method": m, "text": t} for m, t in rows]
    # texts for sites outside the seed table: joined away
    for j in range(n_firms // 2):
        texts.append({"website": f"https://www.noise{j}.com", "method": "homepage",
                      "text": f"Founded {1950 + j % 70}. {rng.choice(words)}"})
    rng.shuffle(texts)
    _write_shards(os.path.join(root, "texts"), "texts", texts, 4)

    # ---- one portfolio page per firm (a few firms have none)
    pages, nested, ranked, pc_id = [], {}, [], 0
    for f in firms:
        name = f["name"]
        if f["idx"] % 11 == 10:
            nested[name] = []
            continue
        mode = PAGE_MODES[f["idx"] % len(PAGE_MODES)]
        body, portcos = [f'<nav class="menu"><a href="/">{name}</a></nav>',
                         '<header class="site-header"><h1>Portfolio</h1></header>'], []
        # the firm's own JSON-LD (self-excluded) and a WebPage node (blacklisted)
        body.append('<script type="application/ld+json">' + json.dumps(
            {"@graph": [{"@type": "Organization", "name": name, "url": site_of[name]},
                        {"@type": "WebPage", "name": "Our portfolio"}]}) + "</script>")
        n_pc = 0 if mode == "no_entities" else PE_SIZES["portcos_per_page"]
        for k in range(n_pc):
            pc_id += 1
            pname = f"{rng.choice(pc_words).title()} {pc_id:06d} {rng.choice(['Labs', 'Health', 'Foods', 'Systems'])}"
            url = f"https://pc{pc_id:06d}.example.com"
            typ = rng.choice(["Organization", "Corporation", "Company"])
            script = ('<script type="application/ld+json">' +
                      json.dumps({"@type": typ, "name": pname, "url": url}) + "</script>")
            shape = 3 if mode == "no_card" else [0, 1, 2, 4][k % 4]
            blurb = " ".join(rng.choice(words) for _ in range(20))
            if shape == 0:
                body.append(f'<div class="portfolio card"><a href="{url}/about">Visit</a>'
                            f'<p>{blurb}</p>{script}</div>')
            elif shape == 1:
                body.append(f'<div class="portfolio card"><p>{blurb}</p>{script}</div>')
            elif shape == 2:
                body.append(f'<div class="portfolio"><p>{blurb}</p></div>{script}')
            elif shape == 4:
                body.append(f'<div class="investment item"><strong>{pname}</strong>'
                            f'<p>{blurb}</p>{script}</div>')
            else:
                body.append(f"<p>{blurb}</p>{script}")
            score, rank = SHAPES[shape]
            portcos.append((pname, url, score))
            ranked.append([name, pname, url, score, rank])
            if k % 5 == 0:  # a blacklisted entity next to it: dropped by the type gate
                body.append('<script type="application/ld+json">' + json.dumps(
                    {"@type": "Person", "name": f"Partner {pc_id:06d}"}) + "</script>")
        body.append('<footer class="footer"><p>(c) all rights reserved</p></footer>')
        pages.append({"firm_name": name, "firm_url": site_of[name],
                      "html": "<html><body>" + "\n".join(body) + "</body></html>"})
        nested[name] = sorted(portcos)
    _write_shards(os.path.join(root, "pages"), "pages", pages, 8)

    members_in = sum(len(l) for fl in slots for l in fl)
    return {"seed": [list(r) for r in seed_rows], "detailed": [list(r) for r in detailed],
            "founded": {n: years[n] for n in site_of}, "nested": nested,
            "portcos": sorted(ranked),
            "counts": {"members_in": members_in, "texts_in": len(texts), "pages_in": len(pages)}}


# ------------------------------------------------------- curated_ingest

CI_SIZES = {"batches": 8, "batch_docs": 40, "bench_passages": 24}
DIM = 64


def _doc_text(rng, vocab, lo=24, hi=48):
    return " ".join(rng.choice(vocab) for _ in range(rng.randint(lo, hi)))


def gen_ci(root, seed, n_batches=None):
    """Batches of (doc_id, text, embedding) with planted drops, and the
    held-out benchmark passages. Returns the expected stage of every doc:
    quality/too_short, quality/duplicate, decontam/contaminated,
    near_dup/<keeper id>, or kept."""
    rng = random.Random(seed)
    n_batches = n_batches or CI_SIZES["batches"]
    batch_docs = CI_SIZES["batch_docs"]
    vocab = _vocab(rng, 3000)
    bench_vocab = _vocab(rng, 400, prefix="x")
    bench = [{"doc_id": 900000 + i, "text": _doc_text(rng, bench_vocab)}
             for i in range(CI_SIZES["bench_passages"])]
    _write_jsonl(os.path.join(root, "bench.jsonl"), bench)

    expect, kept_texts, next_id = {}, [], 1
    for b in range(n_batches):
        docs = []

        def add(text, stage):
            nonlocal next_id
            emb = [round(rng.uniform(-2, 2), 4) for _ in range(DIM)]
            docs.append({"batch": b, "doc_id": next_id, "text": text, "embedding": emb})
            expect[next_id] = stage
            next_id += 1
            return next_id - 1

        planted = 6 + (1 if b > 0 else 0)
        fresh = []
        for _ in range(batch_docs - planted):
            t = _doc_text(rng, vocab)
            fresh.append((add(t, "kept"), t))
        add(" ".join(rng.choice(vocab) for _ in range(rng.randint(3, 12))), "quality/too_short")
        add(" ".join(rng.choice(vocab) for _ in range(rng.randint(3, 12))), "quality/too_short")
        # an in-batch exact duplicate of a fresh doc (the lower id keeps)
        add(fresh[0][1], "quality/duplicate")
        # a fresh pair that is itself duplicated in-batch
        t = _doc_text(rng, vocab)
        add(t, "kept")
        add(t, "quality/duplicate")
        add(rng.choice(bench)["text"], "decontam/contaminated")
        if b > 0:  # a cross-batch copy of a doc kept in an earlier batch
            kid, kt = rng.choice(kept_texts)
            add(kt, f"near_dup/{kid}")
        kept_texts += fresh[1:]
        rng.shuffle(docs)
        _write_jsonl(os.path.join(root, "batches", f"batch_{b:03d}.jsonl"), docs)
    return {"expect": {str(k): v for k, v in expect.items()}, "batch_docs": batch_docs}
