"""Output checks for the benchmark: an independent domain-mode oracle, the
code-mode recall / false-merge check, and the row-identity hash the program
documents for ``uid`` (Spark ``xxhash64(repo, path, commit)``).

Nothing here imports the program: the checks are written from the semantics
in SURVEY.md and FIXTURES.md, so a change to the program cannot change what
counts as a correct answer.
"""

from __future__ import annotations

import re

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, word: int) -> int:
    return (_rotl((acc + word * _P2) & _M, 31) * _P1) & _M


def _merge(acc: int, val: int) -> int:
    return ((acc ^ _round(0, val)) * _P1 + _P4) & _M


def xxh64(data: bytes, seed: int = 0) -> int:
    """XXH64 of ``data`` (unsigned result), the hash behind Spark's xxhash64."""
    n, p, seed = len(data), 0, seed & _M
    word = int.from_bytes
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed, (seed - _P1) & _M]
        while p <= n - 32:
            for k in range(4):
                v[k] = _round(v[k], word(data[p:p + 8], "little"))
                p += 8
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M
        for x in v:
            h = _merge(h, x)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while p + 8 <= n:
        h ^= _round(0, word(data[p:p + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        p += 8
    if p + 4 <= n:
        h ^= (word(data[p:p + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        p += 4
    while p < n:
        h ^= (data[p] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        p += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    return h ^ (h >> 32)


def row_uid(repo: str, path: str, commit: str) -> int:
    """Spark ``xxhash64(repo, path, commit)``: seed 42, each column's UTF-8
    bytes hashed with the previous hash as seed, read as a signed long."""
    h = 42
    for s in (repo, path, commit):
        h = xxh64(s.encode(), h)
    return h - (1 << 64) if h >= 1 << 63 else h


# ---------------------------------------------------------------------------
# domain mode (dnsbl) oracle
# ---------------------------------------------------------------------------

def parse_strict(line: str) -> tuple[str | None, int | None]:
    """(domain, strength) of one feed line under the strict schema rule, or
    (None, None) for a line the program must ignore: the column count is not
    6 or 7, column 7 is not an integer in 0..2, or a label is over 255
    bytes. A 6-column line is WEAK (strength 0)."""
    cols = line.split(",")
    if len(cols) not in (6, 7):
        return None, None
    strength = 0
    if len(cols) == 7 and cols[6] in ("0", "1", "2"):
        strength = int(cols[6])
    elif len(cols) == 7:
        s = cols[6].strip()
        if not re.fullmatch(r"-?[0-9]+", s) or not 0 <= int(s) <= 2:
            return None, None
        strength = int(s)
    domain = cols[1]
    if len(domain.encode()) > 255 and any(
        len(lbl.encode()) > 255 for lbl in domain.split(".")
    ):
        return None, None
    return domain, strength


def dnsbl_survivors(feeds: list[list[str]], prune_regex: bool) -> set[tuple[int, int]]:
    """Surviving (feed index, 1-based line number) keys.

    Rules: a strength-2 row is a regex and always survives. Other rows are
    grouped by exact domain; the strongest row wins, ties go to the first in
    (feed, line) order. A winner with a strict ancestor domain that won at
    strength 1 (FULL) is dropped. With ``prune_regex`` a non-regex survivor
    whose domain matches any regex (``re.search``) is dropped too."""
    regex_keys, patterns = [], []
    best: dict[str, tuple[int, tuple[int, int]]] = {}
    for fi, lines in enumerate(feeds):
        for ln, line in enumerate(lines, 1):
            domain, strength = parse_strict(line)
            if domain is None:
                continue
            if strength == 2:
                regex_keys.append((fi, ln))
                patterns.append(domain)
                continue
            cur = best.get(domain)
            if cur is None or strength > cur[0]:
                best[domain] = (strength, (fi, ln))
    full = {d for d, (s, _) in best.items() if s == 1}

    def subsumed(domain: str) -> bool:
        labels = domain.split(".")
        return any(".".join(labels[i:]) in full for i in range(1, len(labels)))

    kept = {(d, key) for d, (_, key) in best.items() if not subsumed(d)}
    patterns = [p for p in patterns if p]
    if prune_regex and patterns:
        # one alternation: it matches exactly when some pattern matches
        any_re = re.compile("|".join(f"(?:{p})" for p in patterns))
        kept = {(d, key) for d, key in kept if not (d and any_re.search(d))}
    return {key for _, key in kept} | set(regex_keys)


def dnsbl_expected_outputs(feeds: list[list[str]], prune_regex: bool) -> list[bytes]:
    """Expected bytes of each feed's output file: its surviving lines,
    byte-identical to the input, in input line order, one per line."""
    keys = dnsbl_survivors(feeds, prune_regex)
    out = []
    for fi, lines in enumerate(feeds):
        kept = [line for ln, line in enumerate(lines, 1) if (fi, ln) in keys]
        out.append("".join(line + "\n" for line in kept).encode())
    return out


# ---------------------------------------------------------------------------
# code mode (near-dup pipeline) check
# ---------------------------------------------------------------------------

def cluster_check(planted: dict[int, int], final: dict[int, int]) -> tuple[float, int]:
    """(recall, mixed clusters) of a final clustering against planted ones.

    ``planted`` maps every dedupable row to its planted cluster, ``final``
    maps rows to the program's cluster id. A planted pair is the cluster's
    first row with each other member; recall is the share of those pairs that
    the program put in one cluster. A final cluster is mixed when it holds
    rows of two planted clusters. A row missing from ``final`` counts as
    separated from everything."""
    anchor: dict[int, int] = {}
    hit = total = 0
    for row, pc in planted.items():
        if pc not in anchor:
            anchor[pc] = row
            continue
        total += 1
        a = final.get(anchor[pc])
        hit += a is not None and a == final.get(row)
    seen: dict[int, int] = {}
    mixed: set[int] = set()
    for row, fc in final.items():
        pc = planted.get(row)
        if seen.setdefault(fc, pc) != pc:
            mixed.add(fc)
    return (hit / total if total else 1.0), len(mixed)
