#!/usr/bin/env python3
"""Write the 10-page MediaWiki test fixture and print its goldens.

The fixture stands in for the reference's itwiki sample (FIXTURES.md
section A): an export-0.10 <mediawiki> document with a <siteinfo> header
and exactly ten <page> blocks, titled as in that sample, holding seeded
synthetic Italian wikitext of very different lengths. Every normalization
row of FIXTURES.md section A is planted at least once (PLANTS): piped,
multi-pipe and empty-pipe links, all seven banned needles including the
`s:` false positive, commas, `#` fragments, space- and tab-padded links,
empty links, links broken by a newline, nested `File:` links, repeated
links, self-links, multi-byte UTF-8 targets (astral plane included) and
XML entities, so that one text arrives as several character events.
"Arte"'s title is written tab-padded, so the source-title trim is planted
too.

The goldens come from `replica`, a replica of the reference's parseText
(CountReference.java:246-266) written for this script, independently of
graft and of the Scala replica in WikiPropertySpec. It runs over the
title and text strings read back from the written file, after checking
that they equal the generated ones, so the XML escaping is covered too.

Usage: make_wiki_fixture.py [--seed N] [--out PATH]
The defaults rewrite src/test/resources/wiki/itwiki-sample-10pages.xml
byte for byte; the goldens go to stdout as one JSON object.
"""
import argparse
import bisect
import hashlib
import json
import os
import random
import re
import xml.etree.ElementTree as ET

DEFAULT_OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                           "src", "test", "resources", "wiki",
                           "itwiki-sample-10pages.xml")
NS = "{http://www.mediawiki.org/xml/export-0.10/}"

# The reference sample's ten titles, each with a wikitext size in bytes.
PAGES = [("Armonium", 7000), ("Antropologia", 30000), ("Agricoltura", 21000),
         ("Architettura", 36000), ("Astronomia", 24000),
         ("Archeologia subacquea", 10000), ("Analisi delle frequenze", 3500),
         ("Aerofoni", 13000), ("Arte", 17000), ("Abbie Hoffman", 15000)]
PADDED_TITLE = "Arte"  # written as "\tArte\t"

BANNED = ("File:", "Categoria:", "Category:", "Aiuto:", "s:", "Image:", "Immagine:")

# FIXTURES.md section A rows, verbatim, plus a few more quirks of the
# same rules. Each is placed in PLANT_COPIES pages.
PLANTS = [
    "[[organo (strumento musicale)|organo a canne]]",
    "[[A|B|C]]",
    "[[pipe|]]",
    "[[Roma, Italia]]",
    "[[Roma#Storia]]",
    "[[  spaced  ]]",
    "[[\tRoma\t]]",
    "[[]]",
    "[[a\nb]]",
    "[[Aiuto:Disambigua#Tipi di disambiguazione]]",
    "[[File:x.jpg|thumb|[[y]] caption]]",
    "[[Genesis: storia]]",
    "[[s:Il Canzoniere|Canzoniere]]",
    "[[Category:Foo]] [[Categoria:Bar]] [[Immagine:z.png]] [[Image:q]]",
    "[[musica]] e ancora [[musica]]",
    "[[Immagine:Organo.jpg|thumb|Un [[organo]] e la [[chiesa]]]]",
    "[[[[doppie parentesi]]]]",
    "[[ |solo alias]]",
    "]] parentesi spaiate [[",
    "[[,]]",
    "[[Tom & Jerry]] e [[AT&T|la compagnia]]",
    "[[caffè]] [[über|u]] [[ﬀ (legatura)]] [[𝄞 (simbolo)]]",
    '<ref>[[Roma]] & "[[Firenze]]"</ref>',
]
PLANT_COPIES = 2

UNIVERSE_BASE = [
    "Medioevo", "Rinascimento", "Aristotele", "Parigi", "Roma", "Firenze",
    "Venezia", "Milano", "Napoli", "Italia", "Grecia antica", "Impero romano",
    "XIX secolo", "XVIII secolo", "XVII secolo", "XX secolo", "biologia",
    "chimica", "fisica", "matematica", "filosofia", "sociologia",
    "Società (sociologia)", "antropologia culturale", "etnologia",
    "archeologia", "storia dell'arte", "pittura", "scultura",
    "architettura gotica", "musica", "organo (strumento musicale)",
    "pianoforte", "flauto", "tromba", "strumento a fiato", "acustica",
    "frequenza", "onda sonora", "analisi di Fourier", "pianeta", "stella",
    "Galileo Galilei", "Niccolò Copernico", "Giovanni Keplero", "telescopio",
    "frumento", "irrigazione", "rotazione delle colture", "Neolitico",
    "Mesopotamia", "Antico Egitto", "Nilo", "Stati Uniti d'America",
    "New York", "Chicago", "guerra del Vietnam", "controcultura", "Yippie",
    "Università del Massachusetts", "psicologia", "Edward Burnett Tylor",
    "Bronisław Malinowski", "Émile Durkheim", "Max Weber",
    "Città del Vaticano", "Ελλάδα", "Αθήνα", "東京", "北京", "Kraków",
    "São Paulo", "Zürich", "Москва", "caffè", "naufragio", "relitto",
    "Mar Mediterraneo", "anfora", "porto", "Ercolano", "Pompei", "C++",
    "ﬀ (legatura)", "𝄞 (simbolo)", "Þingvellir", "Ålesund", "Ñandú",
]
QUALIFIERS = ["antica", "moderna", "medievale", "contemporanea", "barocca",
              "classica", "romana", "greca", "araba", "cinese"]
NOUNS = ["arte", "musica", "agricoltura", "astronomia", "architettura",
         "letteratura", "scienza", "filosofia", "medicina", "lingua",
         "pittura", "poesia", "storia", "economia", "religione"]
FILLER = ("il la lo di che e per un una con non si nel della delle degli "
          "secolo storia arte musica scienza città popolo guerra lingua opera "
          "teatro suono strumento tecnica studio campo pianta cielo luce "
          "terra acqua mare nave uomo donna società cultura periodo epoca "
          "forma modello teoria metodo ricerca scoperta più molto anche "
          "però quindi così già ancora sempre verso dopo prima").split()
SECTIONS = ["Storia", "Descrizione", "Origini", "Caratteristiche",
            "Sviluppo", "Diffusione", "Note", "Bibliografia", "Voci correlate"]

# (kind, probability per random link); the rest are plain [[target]].
KINDS = [("pipe", 0.10), ("multipipe", 0.02), ("emptypipe", 0.015),
         ("banned", 0.06), ("s_false_positive", 0.01), ("comma", 0.03),
         ("fragment", 0.03), ("spaced", 0.02), ("tabbed", 0.01),
         ("empty", 0.01), ("newline", 0.015), ("entity", 0.02),
         ("self", 0.02), ("nested_file", 0.01)]


def java_trim(s):
    """java.lang.String.trim: strips every char <= U+0020 at both ends."""
    i, j = 0, len(s)
    while i < j and s[i] <= " ":
        i += 1
    while j > i and s[j - 1] <= " ":
        j -= 1
    return s[i:j]


# java.util.regex '.' without DOTALL excludes these five line terminators;
# of them the generator writes only '\n' (asserted in generate).
JAVA_LINE_TERMINATORS = "\n\r\u0085\u2028\u2029"
LINK = re.compile(r"\[\[([^%s]*?)\]\]" % JAVA_LINE_TERMINATORS)


def replica(pages):
    """Reference rules over (title, text) pairs -> list of (to, from)."""
    out = []
    for title, text in pages:
        if not title or not text:  # CountReference.java:237
            continue
        for m in LINK.finditer(text):
            ref = m.group(0)
            if "|" in ref:
                ref = ref.split("|")[0]
            if any(b in ref for b in BANNED):
                continue
            ref = java_trim(re.sub(r"\[|\]|,", "", ref))
            if ref:
                out.append((ref, java_trim(title)))
    return out


def goldens(pages):
    emissions = replica(pages)
    pairs = set(emissions)
    sources = {}
    for to, frm in pairs:
        sources.setdefault(to, set()).add(frm)
    rows = sorted(((t, len(s)) for t, s in sources.items()),
                  key=lambda r: r[0].encode("utf-8"))
    top = max(c for _, c in rows)
    csv = ("page_title,count\n" +
           "".join(f"{t},{c}\n" for t, c in rows)).encode("utf-8")
    return {"pages": len(pages), "emissions": len(emissions),
            "distinct_pairs": len(pairs), "rows": len(rows),
            "max_count": top,
            "at_max": [t for t, c in rows if c == top],
            "csv_lines": len(rows) + 1,
            "csv_sha256": hashlib.sha256(csv).hexdigest()}


def universe():
    extra = [f"{n} {q}" for n in NOUNS for q in QUALIFIERS]
    extra += [f"{y}" for y in range(1800, 2000, 7)]
    extra += [f"{b} ({n})" for b in UNIVERSE_BASE[:40] for n in NOUNS[:10]]
    names = UNIVERSE_BASE + extra
    for t in names:  # a plain link to any target must emit it unchanged
        assert replica([("x", f"[[{t}]]")]) == [(t, "x")], t
    return names


def zipf_cdf(n, s=1.05):
    w = [1.0 / (k + 1) ** s for k in range(n)]
    tot, acc, cdf = sum(w), 0.0, []
    for x in w:
        acc += x
        cdf.append(acc / tot)
    return cdf


def link(rng, kind, target, own):
    w = rng.choice(FILLER)
    return {
        "pipe": lambda: f"[[{target}|{w} {rng.choice(FILLER)}]]",
        "multipipe": lambda: f"[[{target}|{w}|altro]]",
        "emptypipe": lambda: f"[[{target}|]]",
        "banned": lambda: f"[[{rng.choice(BANNED)}{target}]]",
        "s_false_positive": lambda: f"[[{target}s: {w}]]",
        "comma": lambda: f"[[{target}, {w}]]",
        "fragment": lambda: f"[[{target}#{rng.choice(SECTIONS)}]]",
        "spaced": lambda: f"[[  {target}   ]]",
        "tabbed": lambda: f"[[\t{target} \t]]",
        "empty": lambda: "[[]]",
        "newline": lambda: f"[[{target}\n{w}]]",
        "entity": lambda: f'[[{target} & "{w}" <{rng.choice(FILLER)}>]]',
        "self": lambda: f"[[{own}]]",
        "nested_file": lambda: f"[[File:{w}.jpg|thumb|[[{target}]] didascalia]]",
        "plain": lambda: f"[[{target}]]",
    }[kind]()


def random_link(rng, cdf, names, own):
    r, kind = rng.random(), "plain"
    for k, p in KINDS:
        if r < p:
            kind = k
            break
        r -= p
    target = names[min(bisect.bisect_left(cdf, rng.random()), len(names) - 1)]
    out = link(rng, kind, target, own)
    if kind == "plain" and rng.random() < 0.05:  # repeated on the same page
        out += " " + out
    return out


def page_text(rng, cdf, names, own, size, plants):
    parts = [f"{{{{Infobox\n|nome = {own}\n|vedi = [[{own}]]\n}}}}\n",
             f"'''{own}''' è una voce di prova."]
    slots = sorted(rng.sample(range(1, 60), len(plants)))
    n = 0
    while len("".join(parts).encode("utf-8")) < size:
        n += 1
        words = [rng.choice(FILLER) for _ in range(rng.randint(5, 24))]
        for _ in range(rng.choice((0, 1, 1, 1, 2))):
            words.insert(rng.randint(0, len(words)),
                         random_link(rng, cdf, names, own))
        sentence = " ".join(words)
        parts.append(" " + sentence[0].upper() + sentence[1:] + ".")
        while slots and slots[0] == n:
            parts.append(" " + plants.pop(0))
            slots.pop(0)
        if rng.random() < 0.08:
            parts.append(f"<ref>{rng.choice(FILLER)}, p. "
                         f"{rng.randint(1, 400)}</ref>")
        if rng.random() < 0.12:
            parts.append(f"\n\n== {rng.choice(SECTIONS)} ==\n")
    parts += [" " + p for p in plants]  # short pages: the rest at the end
    return "".join(parts)


def escape(s):
    return (s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
            .replace('"', "&quot;"))


def sha1_base36(b):
    n, out = int(hashlib.sha1(b).hexdigest(), 16), ""
    while n:
        n, d = divmod(n, 36)
        out = "0123456789abcdefghijklmnopqrstuvwxyz"[d] + out
    return out.rjust(31, "0")


SITEINFO = """  <siteinfo>
    <sitename>Wikipedia</sitename>
    <dbname>itwiki</dbname>
    <base>https://it.wikipedia.org/wiki/Pagina_principale</base>
    <generator>MediaWiki 1.33.0-wmf.8</generator>
    <case>first-letter</case>
    <namespaces>
""" + "".join(
    f'      <namespace key="{k}" case="first-letter">{v}</namespace>\n'
    if v else f'      <namespace key="{k}" case="first-letter" />\n'
    for k, v in [(-2, "Media"), (-1, "Speciale"), (0, ""), (1, "Discussione"),
                 (2, "Utente"), (3, "Discussioni utente"), (4, "Wikipedia"),
                 (5, "Discussioni Wikipedia"), (6, "File"),
                 (7, "Discussioni file"), (8, "MediaWiki"),
                 (9, "Discussioni MediaWiki"), (10, "Template"),
                 (11, "Discussioni template"), (12, "Aiuto"),
                 (13, "Discussioni aiuto"), (14, "Categoria"),
                 (15, "Discussioni categoria"), (100, "Portale"),
                 (101, "Discussioni portale"), (102, "Progetto"),
                 (103, "Discussioni progetto"), (828, "Modulo"),
                 (829, "Discussioni modulo")]) + """    </namespaces>
  </siteinfo>
"""


def generate(seed):
    rng = random.Random(seed)
    names = universe()
    rng.shuffle(names)
    cdf = zipf_cdf(len(names))
    placed = [[] for _ in PAGES]
    for i, p in enumerate(PLANTS):
        for c in range(PLANT_COPIES):
            placed[(i * 3 + c * 5) % len(PAGES)].append(p)
    pages, blocks = [], []
    for i, (own, size) in enumerate(PAGES):
        title = f"\t{own}\t" if own == PADDED_TITLE else own
        text = page_text(rng, cdf, names, own, size, placed[i])
        assert not any(c in text for c in JAVA_LINE_TERMINATORS[1:])
        pages.append((title, text))
        body = text.encode("utf-8")
        blocks.append(
            f"  <page>\n    <title>{escape(title)}</title>\n    <ns>0</ns>\n"
            f"    <id>{2 + 3 * i}</id>\n    <revision>\n"
            f"      <id>{100134500 + 977 * i}</id>\n"
            f"      <parentid>{100134000 + 977 * i}</parentid>\n"
            f"      <timestamp>2018-11-{10 + i:02d}T0{i % 10}:12:34Z</timestamp>\n"
            f"      <contributor>\n        <username>Bot{i}</username>\n"
            f"        <id>{4000 + i}</id>\n      </contributor>\n"
            f"      <comment>sintesi &amp; verifica</comment>\n"
            f"      <model>wikitext</model>\n      <format>text/x-wiki</format>\n"
            f'      <text xml:space="preserve" bytes="{len(body)}">'
            f"{escape(text)}</text>\n"
            f"      <sha1>{sha1_base36(body)}</sha1>\n"
            f"    </revision>\n  </page>\n")
    doc = ('<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.10/" '
           'xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance" '
           'xsi:schemaLocation="http://www.mediawiki.org/xml/export-0.10/ '
           'http://www.mediawiki.org/xml/export-0.10.xsd" version="0.10" '
           'xml:lang="it">\n' + SITEINFO + "".join(blocks) + "</mediawiki>\n")
    return doc.encode("utf-8"), pages


def read_back(path):
    """(title, text) of every page, as an XML parser delivers them."""
    out, title = [], None
    for _, el in ET.iterparse(path):
        if el.tag == NS + "title":
            title = el.text or ""
        elif el.tag == NS + "text":
            out.append((title, el.text or ""))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=10)
    ap.add_argument("--out", default=DEFAULT_OUT)
    a = ap.parse_args()
    doc, pages = generate(a.seed)
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "wb") as fh:
        fh.write(doc)
    parsed = read_back(a.out)
    assert parsed == pages, "XML round trip changed a title or text"
    g = goldens(parsed)
    planted = "".join(t for _, t in pages)
    missing = [p for p in PLANTS if p not in planted]
    assert not missing, missing
    print(json.dumps({"seed": a.seed, "bytes": len(doc), **g},
                     ensure_ascii=False))


if __name__ == "__main__":
    main()
