#!/usr/bin/env python3
"""Synthesize a large wiki dump from the 10-page fixture for WikiScale.

Usage: make_wiki_dump.py <fixture.xml> <outdir> <copies> <parts>
where <fixture.xml> is src/test/resources/wiki/itwiki-sample-10pages.xml.

Each copy re-emits every fixture page with its <title> suffixed
"__c<i>" — SOURCE pages become distinct per copy while link TARGETS
(the [[...]] text) are untouched, so the pipeline's invariants scale
exactly: the target set stays the fixture's 426 and every incoming-
reference count multiplies by <copies> (counts are
countDistinct(page_from) per target). Copies are dealt round-robin
into <parts> files, each a valid <mediawiki> document, so the same
dump exercises both multi-file and in-file (splittable scan)
parallelism.
"""
import os
import re
import sys


def main(fixture, outdir, copies, parts):
    with open(fixture, encoding="utf-8") as f:
        xml = f.read()
    first = xml.index("<page>")
    last = xml.rindex("</page>") + len("</page>")
    header, body, footer = xml[:first], xml[first:last], xml[last:]
    os.makedirs(outdir, exist_ok=True)
    outs = [open(os.path.join(outdir, f"part{i}.xml"), "w", encoding="utf-8")
            for i in range(parts)]
    for o in outs:
        o.write(header)
    for c in range(copies):
        stamped = re.sub(
            r"<title>([^<]+)</title>",
            lambda m: f"<title>{m.group(1)}__c{c}</title>",
            body)
        outs[c % parts].write(stamped + "\n")
    total = 0
    for o in outs:
        o.write(footer)
        total += o.tell()
        o.close()
    print(f"wrote {parts} part(s), {copies} copies, {total / 1e6:.1f} MB "
          f"-> {outdir}")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4]))
