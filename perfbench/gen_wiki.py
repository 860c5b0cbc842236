#!/usr/bin/env python3
"""Seeded synthetic MediaWiki dump plus the CSV graft must produce from it.

The dump is several `<mediawiki>` XML files of `<page>` blocks. Link targets
are drawn Zipf-skewed from a title universe that mixes Latin, accented, Greek
and CJK titles, so the count-distinct shuffle sees hot keys and the sort sees
multi-byte UTF-8. Every normalization row of FIXTURES.md section A is planted
at a known rate (see PLANTS): piped links, banned namespaces including the
`s:` false positive, commas, `#` fragments, padding whitespace, empty links,
links split by a newline, XML entities, self-links and repeated links.

The expected `page_title,count` CSV is derived from the planted text with a
small replica of the reference rules (`expected_counts`), independent of
graft: lazy `[[...]]` match without DOTALL, the part before the first `|`,
substring namespace filter, strip `[` `]` `,` then trim, drop empties, count
distinct trimmed source titles per target, sort by UTF-8 bytes.

Usage: gen_wiki.py <out_dir> [--seed N] [--files F] [--pages P]
Writes <out_dir>/dump/part-XX.xml and <out_dir>/expected.json.
"""
import argparse
import hashlib
import json
import os
import random
import re
from xml.sax.saxutils import escape

BANNED = ("File:", "Categoria:", "Category:", "Aiuto:", "s:", "Image:", "Immagine:")
LINK = re.compile(r"\[\[(.*?)\]\]")  # '.' excludes '\n' as in java.util.regex
FILLER = ("il la di che e per un una con non si nel della delle secolo storia "
          "arte musica scienza città popolo guerra lingua opera teatro").split()
STEMS = ("Roma Milano Napoli Medioevo Rinascimento Aristotele Parigi Fisica "
         "Chimica Biologia Astronomia Architettura Agricoltura Armonium Arte "
         "Antropologia Aerofoni Filosofia Geografia Matematica").split()
EXTRA = ["Città", "Über", "Ñandú", "Ελλάδα", "Ἀθῆναι", "東京", "北京大学", "Kraków",
         "São Paulo", "Zürich", "Ålesund", "Þingvellir", "Москва", "Δελφοί"]
# (kind, probability per emitted link); the rest are plain [[target]].
PLANTS = [("pipe", 0.10), ("multipipe", 0.02), ("emptypipe", 0.01),
          ("banned", 0.07), ("s_false_positive", 0.01), ("comma", 0.03),
          ("fragment", 0.03), ("spaced", 0.03), ("empty", 0.01),
          ("newline", 0.01), ("entity", 0.02), ("self", 0.02),
          ("nested_file", 0.01)]


def titles(n):
    out = []
    for i in range(n):
        stem = STEMS[i % len(STEMS)] if i % 3 else EXTRA[i % len(EXTRA)]
        out.append(stem if i < len(STEMS) else f"{stem} {i}")
    return out


def zipf_cdf(n, s=1.1):
    w = [1.0 / (k + 1) ** s for k in range(n)]
    tot, acc, cdf = sum(w), 0.0, []
    for x in w:
        acc += x
        cdf.append(acc / tot)
    return cdf


def pick(rng, cdf, universe):
    import bisect
    return universe[min(bisect.bisect_left(cdf, rng.random()), len(universe) - 1)]


def link(rng, kind, target, own_title):
    """One link as wikitext (unescaped)."""
    return {
        "pipe": lambda: f"[[{target}|{rng.choice(FILLER)} {rng.choice(FILLER)}]]",
        "multipipe": lambda: f"[[{target}|B|C]]",
        "emptypipe": lambda: f"[[{target}|]]",
        "banned": lambda: f"[[{rng.choice(BANNED)}{target}]]",
        "s_false_positive": lambda: f"[[{target.split(' ')[0]}s: storia]]",
        "comma": lambda: f"[[{target}, Italia]]",
        "fragment": lambda: f"[[{target}#Storia]]",
        "spaced": lambda: f"[[   {target}  ]]",
        "empty": lambda: "[[]]",
        "newline": lambda: f"[[{target}\n{rng.choice(FILLER)}]]",
        "entity": lambda: f"[[{target} & <{rng.choice(FILLER)}>]]",
        "self": lambda: f"[[{own_title}]]",
        "nested_file": lambda: f"[[File:x.jpg|thumb|[[{target}]] didascalia]]",
        "plain": lambda: f"[[{target}]]",
    }[kind]()


def page_text(rng, cdf, universe, own_title, n_links):
    parts = []
    for _ in range(n_links):
        r, kind = rng.random(), "plain"
        for k, p in PLANTS:
            if r < p:
                kind = k
                break
            r -= p
        target = pick(rng, cdf, universe)
        parts.append(" ".join(rng.choice(FILLER) for _ in range(rng.randint(4, 30))))
        parts.append(link(rng, kind, target, own_title))
        if rng.random() < 0.05:  # repeated link on the same page
            parts.append(link(rng, "plain", target, own_title))
        if rng.random() < 0.1:
            parts.append("\n")
    return " ".join(parts)


def expected_counts(pages):
    """Replica of the reference rules over (title, text) pairs."""
    sources = {}
    for title, text in pages:
        if not title or not text:
            continue
        src = title.strip(" ")
        for m in LINK.finditer(text):
            tgt = m.group(0).split("|", 1)[0]
            if any(b in tgt for b in BANNED):
                continue
            tgt = re.sub(r"[\[\],]", "", tgt).strip(" ")
            if tgt:
                sources.setdefault(tgt, set()).add(src)
    rows = sorted(((t, len(s)) for t, s in sources.items()),
                  key=lambda r: r[0].encode("utf-8"))
    return rows


def csv_bytes(rows):
    return ("page_title,count\n" + "".join(f"{t},{c}\n" for t, c in rows)).encode("utf-8")


def generate(out, seed, files=4, pages=1600, links_per_page=40):
    rng = random.Random(seed)
    universe = titles(max(64, pages // 2))
    rng.shuffle(universe)
    cdf = zipf_cdf(len(universe))
    own = titles(pages)
    all_pages = []
    dump = os.path.join(out, "dump")
    os.makedirs(dump, exist_ok=True)
    per_file = (pages + files - 1) // files
    total = 0
    for f in range(files):
        chunk = []
        for i in range(f * per_file, min(pages, (f + 1) * per_file)):
            title = own[i] if rng.random() > 0.02 else f"  {own[i]} "
            text = page_text(rng, cdf, universe, own[i],
                             rng.randint(links_per_page // 2, links_per_page * 3 // 2))
            all_pages.append((title, text))
            chunk.append(
                f"  <page>\n    <title>{escape(title)}</title>\n    <ns>0</ns>\n"
                f"    <id>{i + 1}</id>\n    <revision>\n      <id>{100000 + i}</id>\n"
                f"      <text xml:space=\"preserve\">{escape(text)}</text>\n"
                f"    </revision>\n  </page>\n")
        body = ('<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.10/" '
                'xml:lang="it">\n  <siteinfo>\n    <sitename>Wikipedia</sitename>\n'
                '  </siteinfo>\n' + "".join(chunk) + "</mediawiki>\n").encode("utf-8")
        with open(os.path.join(dump, f"part-{f:02d}.xml"), "wb") as fh:
            fh.write(body)
        total += len(body)
    rows = expected_counts(all_pages)
    exp = {"sha256": hashlib.sha256(csv_bytes(rows)).hexdigest(),
           "rows": len(rows), "pages": len(all_pages), "bytes": total,
           "files": files, "seed": seed}
    with open(os.path.join(out, "expected.json"), "w") as fh:
        json.dump(exp, fh)
    return exp


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--files", type=int, default=4)
    ap.add_argument("--pages", type=int, default=1600)
    a = ap.parse_args()
    print(json.dumps(generate(a.out, a.seed, a.files, a.pages)))
