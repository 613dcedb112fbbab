"""Seeded Gutenberg-equivalent corpus for the mr-apps workload.

The repository's checked-in goldens (src/test/resources/
{wordcount,invertedindex}_gutenberg_o8.txt) are the WordCount and
InvertedIndex outputs of the reference's Gutenberg text. Together they
fix an input up to word order and the placement of repeated words:

- every line's word bag comes from the InvertedIndex postings (3,495
  records, positions 0-3494; a line without postings is empty);
- each word's extra occurrences (count minus posting-set size) go to
  lines of its own posting set, chosen by the seed;
- the words of each line are shuffled by the seed.

Both apps ignore word order within a line, so any seed's corpus
reproduces both goldens byte for byte; `generate` checks that with a
plain-Python run of both apps before it writes anything. The timed
corpus is that text replicated K times, and its expected outputs come
from the goldens alone: counts times K, and postings p + k * 3495 sorted
as strings.

`generate` writes corpus_x1.txt and corpus_x<K>.txt (one record per
line) and returns the seed, size and sha256 of the corpus; `expected`
returns the seed-independent sizes and output digests.
"""
import hashlib
import os
import random
import re

GOLDEN = "src/test/resources/{}_gutenberg_o8.txt"
APPS = ("wordcount", "invertedindex")
# Java's \s, which the apps split on
SPLIT = re.compile(r"[ \t\n\x0b\f\r]+")


def utf16(s):
    """Sort key matching java.lang.String.compareTo."""
    return s.encode("utf-16-be")


def o8(key, values):
    """One line of the reference's text sink: key and values, each
    followed by a space."""
    return "".join(t + " " for t in [key, *values])


def sorted_sha(lines):
    h = hashlib.sha256()
    for line in sorted(lines, key=utf16):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def read_golden(root, app):
    with open(os.path.join(root, GOLDEN.format(app)), encoding="utf-8", newline="") as f:
        text = f.read()
    rows = {}
    for line in text.split("\n")[:-1]:
        key, *values = line.split(" ")[:-1]
        rows[key] = values
    return text, rows


def apps_on(lines):
    """Plain-Python WordCount and InvertedIndex over `lines`, as O8 text
    merged and sorted like the goldens."""
    counts, postings = {}, {}
    for no, line in enumerate(lines):
        for w in SPLIT.split(line):
            if w:
                counts[w] = counts.get(w, 0) + 1
                postings.setdefault(w, {})[str(no)] = None
    wc = [o8(w, [str(n)]) for w, n in counts.items()]
    ii = [o8(w, sorted(ps)) for w, ps in postings.items()]
    return {a: "".join(l + "\n" for l in sorted(rows, key=utf16))
            for a, rows in (("wordcount", wc), ("invertedindex", ii))}


def generate(root, out_dir, seed, scale):
    wc_text, wc = read_golden(root, "wordcount")
    ii_text, ii = read_golden(root, "invertedindex")
    assert wc.keys() == ii.keys(), "goldens disagree on the vocabulary"
    records = 1 + max(int(p) for ps in ii.values() for p in ps)
    rng = random.Random(seed)
    bags = [[] for _ in range(records)]
    for word in sorted(ii, key=utf16):
        lines = [int(p) for p in ii[word]]
        extra = int(wc[word][0]) - len(lines)
        assert extra >= 0, f"{word}: count below its posting-set size"
        for p in lines + [rng.choice(lines) for _ in range(extra)]:
            bags[p].append(word)
    for bag in bags:
        rng.shuffle(bag)
    lines = [" ".join(bag) for bag in bags]

    # self-check: the x1 corpus reproduces both goldens byte for byte
    got = apps_on(lines)
    for app, text in (("wordcount", wc_text), ("invertedindex", ii_text)):
        if got[app] != text:
            raise SystemExit(f"corpus self-check failed: {app} output differs from its golden")

    x1 = "".join(l + "\n" for l in lines).encode("utf-8")
    big = f"x{scale}"
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "corpus_x1.txt"), "wb") as f:
        f.write(x1)
    corpus = hashlib.sha256()
    with open(os.path.join(out_dir, f"corpus_{big}.txt"), "wb") as f:
        for _ in range(scale):
            f.write(x1)
            corpus.update(x1)
    return {"seed": seed, f"corpus.{big}.sha256": corpus.hexdigest(),
            f"bytes.{big}": len(x1) * scale}


def expected(root, scale):
    """Sizes and the sha256 of each app's merged output, for the x1 and
    the x`scale` corpus of any seed, from the goldens alone."""
    wc_text, wc = read_golden(root, "wordcount")
    ii_text, ii = read_golden(root, "invertedindex")
    records = 1 + max(int(p) for ps in ii.values() for p in ps)
    tokens = sum(int(v[0]) for v in wc.values())
    big = f"x{scale}"
    return {
        "records.x1": records,
        "tokens.x1": tokens,
        "wordcount.x1.sha256": sorted_sha(wc_text.split("\n")[:-1]),
        "invertedindex.x1.sha256": sorted_sha(ii_text.split("\n")[:-1]),
        f"records.{big}": records * scale,
        f"tokens.{big}": tokens * scale,
        f"wordcount.{big}.sha256": sorted_sha(
            o8(w, [str(int(v[0]) * scale)]) for w, v in wc.items()),
        f"invertedindex.{big}.sha256": sorted_sha(
            o8(w, sorted(str(int(p) + k * records) for k in range(scale) for p in ps))
            for w, ps in ii.items()),
    }


def write_facts(path, facts):
    with open(path, "w", encoding="utf-8") as f:
        f.writelines(f"{k}={v}\n" for k, v in facts.items())


def read_facts(path):
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as f:
        return dict(l.rstrip("\n").split("=", 1) for l in f if "=" in l)
