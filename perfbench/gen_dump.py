#!/usr/bin/env python3
"""Seeded generator for a MediaWiki pages-articles-multistream dump.

Writes, into <out_dir>:
  pages-articles-multistream.xml.bz2        concatenated bz2 streams: the
                                            <siteinfo> header, one stream
                                            per 100 pages, the footer
  pages-articles-multistream-index.txt.bz2  offset:page_id:title per page
  manifest.json                             ground truth (pages, revisions,
                                            injected sha1 mismatches, ...)

Pages have 1-5 revisions with long-tailed wikitext (links, templates,
categories, sections, external links); about 5% are redirects and
namespaces are mixed. A known number of <sha1> values are wrong.

    python3 perfbench/gen_dump.py <out_dir> <pages> <seed>

The same (pages, seed) gives byte-identical files.
"""
import bz2
import hashlib
import json
import os
import random
import sys
from xml.sax.saxutils import escape, quoteattr

DUMP = "pages-articles-multistream.xml.bz2"
INDEX = "pages-articles-multistream-index.txt.bz2"
PAGES_PER_STREAM = 100
NAMESPACES = [(-2, "Media"), (-1, "Special"), (0, ""), (1, "Talk"), (2, "User"),
              (3, "User talk"), (4, "Project"), (6, "File"), (10, "Template"),
              (14, "Category")]
NS_WEIGHTS = {0: 70, 1: 8, 2: 6, 3: 2, 4: 3, 6: 2, 10: 5, 14: 4}
BASE36 = "0123456789abcdefghijklmnopqrstuvwxyz"
_ONSETS = ["b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s",
           "t", "v", "w", "z", "br", "ch", "cl", "dr", "gr", "pl", "st", "th", "tr"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ea", "ou", "io"]
_CODAS = ["", "", "n", "r", "s", "l", "m", "nd", "st", "rt", "ck"]
_ACCENTED = ["café", "naïve", "Zürich", "São", "Łódź", "東京", "Ελλάδα", "Россия"]


def make_vocab(size, seed):
    """`size` distinct pseudo-words, deterministic in `seed`."""
    rng = random.Random(seed)
    seen, out = set(), []
    while len(out) < size:
        w = "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS) + rng.choice(_CODAS)
                    for _ in range(rng.choice((1, 2, 2, 3))))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


class Words:
    """Zipf(1) sampler over a fixed vocabulary: long-tailed token
    frequencies like real prose."""

    def __init__(self, vocab, rng):
        self.vocab = vocab
        self.rng = rng
        weights = [1.0 / (r + 1) for r in range(len(vocab))]
        total = sum(weights)
        acc, self.cum = 0.0, []
        for w in weights:
            acc += w / total
            self.cum.append(acc)

    def take(self, n):
        pick = self.rng.choices(self.vocab, cum_weights=self.cum, k=n)
        if self.rng.random() < 0.05:
            pick[self.rng.randrange(n)] = self.rng.choice(_ACCENTED)
        return pick

    def sentence(self, lo=6, hi=18):
        ws = self.take(self.rng.randint(lo, hi))
        return ws[0].capitalize() + " " + " ".join(ws[1:]) + "."


def lognormal_len(rng, median, sigma, lo, hi):
    """Long-tailed length: lognormal around `median`, clipped to [lo, hi]."""
    return int(min(hi, max(lo, rng.lognormvariate(0.0, sigma) * median)))


def sha1_base36(text):
    """MediaWiki's revision sha1: base-36 SHA-1 of the UTF-8 text, 31 chars."""
    n = int(hashlib.sha1(text.encode("utf-8")).hexdigest(), 16)
    out = ""
    while n:
        n, r = divmod(n, 36)
        out = BASE36[r] + out
    return out.rjust(31, "0")


def header():
    ns = "\n".join(
        f'      <namespace key="{k}" case="first-letter" />' if not name else
        f'      <namespace key="{k}" case="first-letter">{escape(name)}</namespace>'
        for k, name in NAMESPACES)
    return ('<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.10/" '
            'xml:lang="en" version="0.10">\n  <siteinfo>\n'
            '    <sitename>BenchWiki</sitename>\n    <dbname>benchwiki</dbname>\n'
            '    <base>https://bench.example/wiki/Main_Page</base>\n'
            '    <generator>MediaWiki 1.41.0</generator>\n'
            '    <case>first-letter</case>\n    <namespaces>\n'
            f'{ns}\n    </namespaces>\n  </siteinfo>\n')


def wikitext(rng, words, titles):
    """One revision body: sections of Zipf-worded prose with wiki markup,
    long-tailed in size (median ~2 KB)."""
    target = lognormal_len(rng, 2000, 1.0, 200, 60000)
    parts = []
    if rng.random() < 0.4:
        parts.append("{{Infobox " + words.take(1)[0] + "\n| name = " +
                     " ".join(words.take(2)) + "\n| founded = " +
                     str(rng.randint(1800, 2020)) + "\n}}")
    size = 0
    while size < target:
        if parts and rng.random() < 0.25:
            parts.append("== " + " ".join(words.take(rng.randint(1, 3))).capitalize() + " ==")
        sents = []
        for _ in range(rng.randint(2, 6)):
            s = words.sentence()
            r = rng.random()
            if r < 0.35:
                t = rng.choice(titles)
                s = s[:-1] + (f" [[{t}]]." if rng.random() < 0.6 else
                              f" [[{t}|{words.take(1)[0]}]].")
            elif r < 0.45:
                s = s[:-1] + (f"<ref>{{{{cite web|url=https://example.org/"
                              f"{words.take(1)[0]}|title={words.take(1)[0]}}}}}</ref>.")
            elif r < 0.5:
                s += f" [https://example.org/{rng.randint(1, 9999)} {words.take(1)[0]}]"
            elif r < 0.53:
                s += " R&D < 5% of budget."
            sents.append(s)
        para = " ".join(sents)
        parts.append(para)
        size += len(para)
    for _ in range(rng.randint(1, 3)):
        parts.append(f"[[Category:{words.take(1)[0].capitalize()}]]")
    return "\n\n".join(parts)


def page_xml(p):
    out = [f"  <page>\n    <title>{escape(p['title'])}</title>\n"
           f"    <ns>{p['ns']}</ns>\n    <id>{p['id']}</id>\n"]
    if p["redirect"]:
        out.append(f"    <redirect title={quoteattr(p['redirect'])} />\n")
    for r in p["revisions"]:
        out.append(f"    <revision>\n      <id>{r['id']}</id>\n")
        if r["parent"] is not None:
            out.append(f"      <parentid>{r['parent']}</parentid>\n")
        out.append(f"      <timestamp>{r['ts']}</timestamp>\n      <contributor>\n")
        if r["ip"]:
            out.append(f"        <ip>{r['ip']}</ip>\n")
        else:
            out.append(f"        <username>{escape(r['user'])}</username>\n"
                       f"        <id>{r['uid']}</id>\n")
        out.append("      </contributor>\n")
        if r["minor"]:
            out.append("      <minor />\n")
        out.append(f"      <comment>{escape(r['comment'])}</comment>\n"
                   "      <model>wikitext</model>\n      <format>text/x-wiki</format>\n"
                   f"      <text bytes=\"{len(r['text'].encode('utf-8'))}\" "
                   f"xml:space=\"preserve\">{escape(r['text'])}</text>\n"
                   f"      <sha1>{r['sha1']}</sha1>\n    </revision>\n")
    out.append("  </page>\n")
    return "".join(out)


def generate(out_dir, n_pages, seed):
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    words = Words(make_vocab(4000, seed), rng)
    ns_keys = list(NS_WEIGHTS)
    prefix = dict(NAMESPACES)
    pages, titles = [], []
    for i in range(n_pages):
        ns = rng.choices(ns_keys, weights=[NS_WEIGHTS[k] for k in ns_keys])[0]
        base = " ".join(words.take(rng.randint(1, 3))).title() + f" {i}"
        title = base if ns == 0 else f"{prefix[ns]}:{base}"
        pages.append({"id": 10 + 3 * i, "ns": ns, "title": title})
        titles.append(base)
    rev_id = 1000
    n_revs = redirects = 0
    all_revs = []
    for p in pages:
        is_redirect = p["ns"] == 0 and rng.random() < 0.05
        p["redirect"] = rng.choice(titles) if is_redirect else None
        if is_redirect:
            redirects += 1
        k = 1 if is_redirect else rng.choices([1, 2, 3, 4, 5], weights=[40, 25, 15, 12, 8])[0]
        day = rng.randint(0, 3000)
        parent, revs = None, []
        for j in range(k):
            rev_id += rng.randint(1, 50)
            day += rng.randint(1, 200)
            text = (f"#REDIRECT [[{p['redirect']}]]" if is_redirect
                    else wikitext(rng, words, titles))
            anon = rng.random() < 0.1
            r = {"id": rev_id, "parent": parent,
                 "ts": f"{2001 + day // 365:04d}-{1 + (day % 365) // 31:02d}-"
                       f"{1 + (day % 31) % 28:02d}T{rng.randint(0, 23):02d}:"
                       f"{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}Z",
                 "ip": f"198.51.100.{rng.randint(1, 254)}" if anon else None,
                 "user": f"Editor{rng.randint(1, 500)}", "uid": rng.randint(1, 500),
                 "minor": rng.random() < 0.2,
                 "comment": " ".join(words.take(rng.randint(1, 6))),
                 "text": text, "sha1": sha1_base36(text)}
            revs.append(r)
            all_revs.append(r)
            parent = rev_id
        p["revisions"] = revs
        n_revs += k
    n_bad = max(1, n_revs // 100)
    for r in rng.sample(all_revs, n_bad):
        r["sha1"] = "".join(rng.choice(BASE36) for _ in range(31))

    xml_bytes = 0
    index_lines = []
    dump_path = os.path.join(out_dir, DUMP)
    with open(dump_path, "wb") as f:
        head = header().encode("utf-8")
        xml_bytes += len(head)
        f.write(bz2.compress(head, 9))
        for s in range(0, n_pages, PAGES_PER_STREAM):
            offset = f.tell()
            chunk = pages[s:s + PAGES_PER_STREAM]
            body = "".join(page_xml(p) for p in chunk).encode("utf-8")
            xml_bytes += len(body)
            f.write(bz2.compress(body, 9))
            index_lines += [f"{offset}:{p['id']}:{p['title']}" for p in chunk]
        foot = b"</mediawiki>\n"
        xml_bytes += len(foot)
        f.write(bz2.compress(foot, 9))
    with open(os.path.join(out_dir, INDEX), "wb") as f:
        f.write(bz2.compress(("\n".join(index_lines) + "\n").encode("utf-8"), 9))
    manifest = {
        "seed": seed, "pages": n_pages, "revisions": n_revs,
        "sha1_mismatches": n_bad, "redirects": redirects,
        "bz2_streams": (n_pages + PAGES_PER_STREAM - 1) // PAGES_PER_STREAM,
        "xml_bytes": xml_bytes, "dump_bytes": os.path.getsize(dump_path),
        "pages_by_ns": {str(k): sum(1 for p in pages if p["ns"] == k)
                        for k in sorted(NS_WEIGHTS)},
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True, indent=1)
    return manifest


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))))
