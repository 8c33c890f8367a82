"""Seeded input generators. Each is a pure function of its arguments: the
same seed gives byte-identical inputs, and the program sees only the files
written from them.

* ``code_batch`` — rows of the code-corpus table (repo, path, commit, lang,
  content) with planted duplicate classes, plus the planted cluster of every
  dedupable row.
* ``dnsbl_feeds`` — pfBlockerNG CSV feeds with cross-feed exact duplicates,
  FULL-parent subsumption, strength upgrades, regex rows and malformed
  lines, tuned to the reference corpus's ~29% prune rate.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

TOKENS = np.array([
    "def", "return", "if", "else", "for", "while", "import", "class",
    "self", "data", "value", "result", "index", "count", "buffer", "node",
    "parse", "read", "write", "open", "close", "hash", "key", "map",
    "list", "append", "len", "range", "print", "assert", "raise", "try",
    "except", "with", "yield", "lambda", "None", "True", "False", "not",
    "and", "or", "in", "is", "int", "str", "float", "dict", "set", "tuple",
])
LICENSE = (
    "Licensed under the Apache License Version 2.0 the License you may not "
    "use this file except in compliance with the License You may obtain a "
    "copy of the License at http apache org licenses LICENSE 2.0 Unless "
    "required by applicable law or agreed to in writing software distributed "
    "under the License is distributed on an AS IS BASIS WITHOUT WARRANTIES OR "
    "CONDITIONS OF ANY KIND either express or implied See the License for the "
    "specific language governing permissions and limitations under the License"
).split()
LANGS = [("python", "py"), ("java", "java"), ("c", "c"), ("js", "js"),
         ("go", "go"), ("md", "md")]
BLOCK = 20
# planted classes inside each block of 20 rows: row j -> the row it copies
EXACT = {10: 0, 11: 1}          # byte-identical copies
NEAR = {12: 2, 13: 3, 19: 6}    # 2-3% of tokens edited
SIMHASH_NEAR = {14: 4}          # one localized edit
CONTAINER = {15: 5}             # wraps the source verbatim (source is subsumed)
BOILERPLATE = (16, 17)          # the license, verbatim / one token edited
PASSTHROUGH = 18                # lang = 'binary', routed around dedup
BOILERPLATE_CLUSTER = -1
SOURCE = {**EXACT, **NEAR, **SIMHASH_NEAR, **CONTAINER}  # copy row -> source row


def _rng(*key) -> np.random.Generator:
    h = hashlib.sha256(":".join(map(str, key)).encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "big"))


def _doc(rng: np.random.Generator, n: int) -> list[str]:
    toks = list(TOKENS[rng.integers(0, len(TOKENS), size=n)])
    for p in range(0, n, 17):  # identifiers keep unrelated docs apart
        toks[p] = f"id{rng.integers(0, 10**9)}"
    return toks


def _edit(toks: list[str], rng: np.random.Generator, frac: float) -> list[str]:
    out = list(toks)
    k = max(1, int(len(out) * frac))
    for p in rng.choice(len(out), size=k, replace=False):
        out[p] = f"edit{rng.integers(0, 10**9)}"
    return out


def code_batch(seed: int, batch: int, n_rows: int, avg_tokens: int = 300):
    """(files frame, planted) for one batch. ``planted`` maps the row index
    of every dedupable row to its planted cluster: the source row of an
    exact / near / simhash / containment copy, BOILERPLATE_CLUSTER for the
    license rows, the row itself for a unique row. Passthrough rows are not
    in it."""
    rng = _rng("code", seed, batch)
    lens = (avg_tokens * (0.5 + 1.5 * rng.random(n_rows))).astype(int)
    base = {}
    rows, planted = [], {}
    for i in range(n_rows):
        b, j = divmod(i, BLOCK)
        lang, ext = LANGS[i % len(LANGS)]
        path = f"src/b{batch}/pkg{b % 13}/mod_{i}.{ext}"
        src = SOURCE.get(j)
        src_i = b * BLOCK + src if src is not None else None
        if j < 10:
            base[i] = _doc(rng, int(lens[i]))
            toks, cluster = base[i], i
        elif j in EXACT:
            toks, cluster = base[src_i], src_i
        elif j in NEAR:
            toks = _edit(base[src_i], rng, 0.02 if j != 19 else 0.03)
            cluster = src_i
        elif j in SIMHASH_NEAR:
            toks = list(base[src_i])
            toks[len(toks) // 2] = "localized_edit"
            cluster = src_i
        elif j in CONTAINER:
            toks = (_doc(rng, int(lens[i])) + base[src_i]
                    + _doc(rng, int(lens[i]) // 2))
            cluster = src_i
        elif j in BOILERPLATE:
            toks = list(LICENSE)
            if j == 17:
                toks[5 + b % 7] = f"edit{b}"
            cluster = BOILERPLATE_CLUSTER
        else:
            lang, ext, toks, cluster = "binary", "bin", None, None
            path = f"assets/b{batch}/blob_{i}.bin"
        content = (" ".join(toks) if toks is not None
                   else hashlib.sha256(f"{seed}:{batch}:{i}".encode()).hexdigest() * 4)
        repo_id = int(rng.zipf(1.5)) % 997
        commit = hashlib.sha1(f"{seed}:{batch}:{i}".encode()).hexdigest()
        rows.append((f"org{repo_id % 7}/repo{repo_id}", path, commit, lang, content))
        if cluster is not None:
            planted[i] = cluster
    files = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
    return files, planted


# FIXTURES.md section 1 hand cases, at the head of feed 0:
# (domain, strength) in insertion order
HAND_CASES = [
    ("dup.example.com", 0), ("dup.example.com", 0),          # exact dup
    ("x-full.com", 1), ("a.b.x-full.com", 0),                # FULL parent first
    ("c.d.y-full.com", 0), ("y-full.com", 1),                # retroactive wipe
    ("weakpar.com", 0), ("child.weakpar.com", 0),            # weak pair kept
    ("w1.chain.com", 0), ("w2.w1.chain.com", 0), ("chain.com", 0),
    ("upgrade.com", 0), ("upgrade.com", 1),                  # weak -> strong
    ("downgr.com", 1), ("downgr.com", 0),                    # strong -> weak
    (r"^ad[0-9]+\.", 2),                                     # regex row
]
REGEXES = [r"^ad[0-9]+\.", r"^track[0-9]*\.", r"(^|\.)metrics\.", r"^pixel-"]
TLDS = np.array(["com", "net", "org", "io", "ru", "de"])


def feed_line(domain: str, strength: int, listname: str) -> str:
    """A pfBlockerNG CSV feed line."""
    return f",{domain},,0,{listname},DNSBL_Compilation,{strength}"


def dnsbl_feeds(seed: int, n_feeds: int, lines_per_feed: int) -> list[list[str]]:
    """Feed files as lists of lines (no newlines).

    Line mix: 6% FULL parents ``pN.tld`` (about 60% of parent domains end up
    FULL), 24% weak children ``cK.pN.tld`` (subsumed when their parent is
    FULL in any feed), 14% shared-pool weak domains ``sN.tld`` (cross-feed
    exact duplicates), 2% FULL upgrades of a shared-pool domain, 2% hosts
    the regex rows kill, 0.2% malformed lines; the rest are unique hosts. Each feed starts with a few regex rows; feed 0
    starts with HAND_CASES."""
    total = n_feeds * lines_per_feed
    n_parents = max(1, int(0.065 * total))  # ~60% of parents end up FULL
    n_shared = max(1, int(0.067 * total))   # ~2.4 lines per shared domain
    feeds = []
    for fi in range(n_feeds):
        rng = _rng("dnsbl", seed, fi)
        name = f"list_{fi}"
        lines = [feed_line(d, s, name) for d, s in HAND_CASES] if fi == 0 else []
        lines += [feed_line(p, 2, name) for p in REGEXES[fi % 2::2]]
        roll = rng.random(lines_per_feed)
        pid = rng.integers(0, n_parents, lines_per_feed)
        sid = rng.integers(0, n_shared, lines_per_feed)
        sub = rng.integers(0, 40, lines_per_feed)
        for k in range(lines_per_feed):
            r, p, s = roll[k], pid[k], sid[k]
            parent = f"p{p}.{TLDS[p % len(TLDS)]}"
            shared = f"s{s}.{TLDS[s % len(TLDS)]}"
            if r < 0.06:
                line = feed_line(parent, 1, name)
            elif r < 0.30:
                line = feed_line(f"c{sub[k]}.{parent}", 0, name)
            elif r < 0.44:
                line = feed_line(shared, 0, name)
            elif r < 0.46:
                line = feed_line(shared, 1, name)
            elif r < 0.48:
                line = feed_line(f"ad{s}.u{fi}x{k}.com", 0, name)
            elif r < 0.482:
                line = f",bad{k}.com,,0,{name}"
            else:
                line = feed_line(f"h{k}.u{fi}x{p}.net", 0, name)
            lines.append(line)
        feeds.append(lines)
    return feeds


def write_feeds(feeds: list[list[str]], paths: list[str]) -> None:
    for lines, path in zip(feeds, paths):
        with open(path, "w") as f:
            f.write("".join(line + "\n" for line in lines))
