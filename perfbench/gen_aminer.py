#!/usr/bin/env python3
"""Seeded AMiner-format dump generator for the pipeline workloads.

Writes two dumps in the AMiner v8 flat-text format (blank-line-separated
records with `#*` title, `#@` authors, `#t` year, `#c` venue, `#index` id,
`#%` references, `#!` abstract) plus the ground truth the benchmark scores
against:

  dblp.txt, acm.txt   the dumps the program parses
  truth.json          planted duplicate pairs (dblp index, acm index), the
                      number of records per dump, and the number of records
                      per dump that fall inside the year/venue filter

Every record inside the filter window (1995..2004, venue naming SIGMOD or
VLDB) is either a singleton or one half of a planted duplicate pair. A
planted pair's ACM copy carries realistic noise: author typos, reordered
and dropped/added authors, added or dropped title tokens, a year moved by
one or two (sometimes across the window edge, which filters the copy out),
and venue spelling variants. Distractor records fall outside the filter
by year or by venue, so the filter decides what is kept.

Record counts and noise rates are fixed by the profile; the seed only
changes the content. The same seed gives byte-identical files.

Usage: gen_aminer.py --seed N --out DIR --records R --kept K
"""
import argparse
import json
import os
import random

LOWER_YEAR, UPPER_YEAR = 1995, 2004
DUP_SHARE = 0.5  # share of the DBLP papers inside the filter with an ACM copy

FIRST = ["James", "Maria", "Wei", "Anna", "Rakesh", "Jennifer", "Michael",
         "Hector", "Jeffrey", "Surajit", "Divesh", "Gerhard", "Christos",
         "Joseph", "Laura", "Jiawei", "Philip", "Renée", "José", "Zoë",
         "Hans", "Yannis", "Rajeev", "Donald", "Moshe", "Serge", "Jim",
         "Patricia", "Ravi", "Samuel", "Beng Chin", "Alon", "Dan", "Tova",
         "Minos", "Nick", "Kyuseok", "Raghu", "Umeshwar", "Goetz"]
LAST = ["Agrawal", "Garcia-Molina", "Ullman", "Widom", "Chaudhuri",
        "Srivastava", "Weikum", "Faloutsos", "Hellerstein", "Haas", "Han",
        "Bernstein", "Stonebraker", "Naughton", "DeWitt", "Ioannidis",
        "Rastogi", "Kossmann", "Vardi", "Abiteboul", "Gray", "Selinger",
        "Ramakrishnan", "Ooi", "Halevy", "Suciu", "Milo", "Garofalakis",
        "Koudas", "Shim", "Dayal", "Graefe", "Müller", "Šimůnek", "Lehner",
        "Lomet", "Carey", "Franklin", "Zdonik", "Jagadish"]
WORDS = ["query", "optimization", "index", "indexing", "data", "database",
         "databases", "mining", "association", "rules", "efficient",
         "scalable", "parallel", "distributed", "join", "joins", "views",
         "materialized", "xml", "stream", "streams", "processing",
         "approximate", "sampling", "histograms", "olap", "cube", "warehouse",
         "transaction", "recovery", "concurrency", "control", "spatial",
         "temporal", "similarity", "search", "nearest", "neighbor",
         "clustering", "classification", "web", "semistructured", "schema",
         "integration", "matching", "mediators", "caching", "replication",
         "storage", "compression", "skyline", "ranking", "top-k", "keyword",
         "graphs", "trees", "multidimensional", "high-dimensional",
         "adaptive", "incremental", "maintenance", "evaluation", "cost",
         "model", "models", "selectivity", "estimation", "buffer",
         "management", "object-oriented", "relational", "engine", "system",
         "systems", "algorithms", "framework", "benchmark", "workload"]
STOP = ["a", "an", "the", "of", "for", "in", "on", "with", "and", "to",
        "over", "using", "from", "by", "through", "into", "under"]
# Venue spellings inside the filter (they name sigmod or vldb once
# lowercased), and spellings of the same venues the filter drops.
SIGMOD = ["SIGMOD Conference", "ACM SIGMOD Record", "Proc. SIGMOD",
          "SIGMOD '99 Proceedings", "sigmod conf."]
VLDB = ["VLDB", "VLDB J.", "The VLDB Journal", "Proc. VLDB",
        "VLDB Workshop"]
OUTSIDE_VENUES = ["ICDE", "KDD", "SIGKDD Explorations", "CIKM", "EDBT",
                  "PODS", "Very Large Data Bases", "Information Systems",
                  "TODS", "ACM Trans. Database Syst."]
# Noise rates on a planted duplicate's ACM copy (independent draws).
NOISE = {
    "author_typo": 0.30,     # one character edited in one author name
    "author_reorder": 0.08,  # two authors swapped
    "author_count": 0.06,    # one author dropped or added
    "title_add": 0.20,       # one title token added
    "title_drop": 0.20,      # one title token dropped
    "year_shift": 0.25,      # year moved by one (two with prob 0.3)
    "venue_variant": 0.60,   # another spelling of the same venue
}


def author(rng):
    name = f"{rng.choice(FIRST)} {rng.choice(LAST)}"
    if rng.random() < 0.15:
        name = f"{rng.choice('ABCDEFGHJKLMNPRSTW')}. {name}"
    return name


def title(rng):
    toks = []
    for _ in range(rng.randint(5, 10)):
        toks.append(rng.choice(STOP) if rng.random() < 0.2 else rng.choice(WORDS))
    toks[0] = toks[0].capitalize()
    if rng.random() < 0.2:
        toks[rng.randrange(len(toks))] += ":"
    return " ".join(toks)


def typo(rng, s):
    letters = [i for i, ch in enumerate(s) if ch.isalpha()]
    i = rng.choice(letters)
    op = rng.random()
    if op < 0.4:
        return s[:i] + rng.choice("aeioulnrst") + s[i + 1:]
    if op < 0.7:
        return s[:i] + s[i + 1:]
    return s[:i] + s[i] + s[i:]


def venue_of(rng, tag):
    return rng.choice(SIGMOD if tag == "sigmod" else VLDB)


def noisy_copy(rng, paper):
    authors = list(paper["authors"])
    if rng.random() < NOISE["author_typo"]:
        k = rng.randrange(len(authors))
        authors[k] = typo(rng, authors[k])
    if len(authors) > 1 and rng.random() < NOISE["author_reorder"]:
        i, j = rng.sample(range(len(authors)), 2)
        authors[i], authors[j] = authors[j], authors[i]
    if rng.random() < NOISE["author_count"]:
        if len(authors) > 1 and rng.random() < 0.5:
            authors.pop(rng.randrange(len(authors)))
        else:
            authors.append(author(rng))
    toks = paper["title"].split(" ")
    if rng.random() < NOISE["title_add"]:
        toks.insert(rng.randrange(len(toks) + 1), rng.choice(WORDS))
    if len(toks) > 3 and rng.random() < NOISE["title_drop"]:
        toks.pop(rng.randrange(len(toks)))
    year = paper["year"]
    if rng.random() < NOISE["year_shift"]:
        year += rng.choice([-1, 1]) * (2 if rng.random() < 0.3 else 1)
    venue = paper["venue"]
    if rng.random() < NOISE["venue_variant"]:
        venue = venue_of(rng, paper["tag"])
    return {"title": " ".join(toks), "authors": authors, "year": year,
            "venue": venue, "tag": paper["tag"]}


def paper_inside(rng):
    tag = rng.choice(["sigmod", "vldb"])
    return {"title": title(rng), "authors": [author(rng) for _ in range(rng.randint(1, 5))],
            "year": rng.randint(LOWER_YEAR, UPPER_YEAR), "venue": venue_of(rng, tag),
            "tag": tag}


def paper_outside(rng):
    p = paper_inside(rng)
    if rng.random() < 0.5:
        p["year"] = rng.choice([rng.randint(1970, LOWER_YEAR - 1),
                                rng.randint(UPPER_YEAR + 1, 2015)])
    else:
        p["venue"] = rng.choice(OUTSIDE_VENUES)
    return p


def inside(p):
    v = p["venue"].lower()
    return LOWER_YEAR <= p["year"] <= UPPER_YEAR and ("sigmod" in v or "vldb" in v)


def render(rng, p, index):
    lines = [f"#*{p['title']}", "#@" + ", ".join(p["authors"]), f"#t{p['year']}",
             f"#c{p['venue']}", f"#index{index}"]
    for _ in range(rng.randint(0, 3)):
        lines.append(f"#%{rng.randint(1, 10**6)}")
    if rng.random() < 0.5:
        lines.append("#!" + " ".join(rng.choice(WORDS) for _ in range(rng.randint(10, 40))))
    return "\n".join(lines)


def generate(seed, records, kept):
    """Return (dblp records, acm records, truth pairs). Each side holds
    `records` records; `kept` of the DBLP side's papers fall inside the
    filter, and DUP_SHARE of those get a noisy ACM copy."""
    rng = random.Random(seed)
    n_dup = int(kept * DUP_SHARE)
    originals = [paper_inside(rng) for _ in range(kept)]
    copies = [noisy_copy(rng, p) for p in originals[:n_dup]]
    # ACM fills up to the same inside count with its own singletons (a
    # copy shifted out of the window no longer counts as inside).
    acm_inside = copies + [paper_inside(rng) for _ in range(kept - n_dup)]
    dblp = [(p, True) for p in originals]
    acm = [(p, i < n_dup) for i, p in enumerate(acm_inside)]
    dblp += [(paper_outside(rng), False) for _ in range(records - kept)]
    acm += [(paper_outside(rng), False) for _ in range(records - kept)]
    # Shuffle record order, then number the records in file order.
    d_order = list(range(records))
    a_order = list(range(records))
    rng.shuffle(d_order)
    rng.shuffle(a_order)
    d_index = {k: f"{k * 7 + 1000003}" for k in range(records)}
    a_index = {k: f"{k * 11 + 2000003}" for k in range(records)}
    truth = [[d_index[i], a_index[i]] for i in range(n_dup)]
    d_out = [render(rng, dblp[k][0], d_index[k]) for k in d_order]
    a_out = [render(rng, acm[k][0], a_index[k]) for k in a_order]
    d_kept = sum(1 for p, _ in dblp if inside(p))
    a_kept = sum(1 for p, _ in acm if inside(p))
    return d_out, a_out, truth, d_kept, a_kept


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--records", type=int, required=True, help="records per dump")
    ap.add_argument("--kept", type=int, required=True, help="DBLP records inside the filter")
    a = ap.parse_args()
    d_out, a_out, truth, d_kept, a_kept = generate(a.seed, a.records, a.kept)
    os.makedirs(a.out, exist_ok=True)
    for name, recs in (("dblp.txt", d_out), ("acm.txt", a_out)):
        with open(os.path.join(a.out, name), "w", encoding="utf-8") as f:
            f.write("\n\n".join(recs))
            f.write("\n")
    with open(os.path.join(a.out, "truth.json"), "w") as f:
        json.dump({"records": a.records, "dblp_kept": d_kept, "acm_kept": a_kept,
                   "noise": NOISE, "pairs": truth}, f)


if __name__ == "__main__":
    main()
