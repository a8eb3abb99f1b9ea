"""Golden gates: compare what the program committed with what the inputs
were built to contain. Pure Python over collected rows, so the gates are
unit-testable without Spark.

Every function returns a list of problem strings, one per bad document
(or bad pair / group for the near-dup gate); the benchmark counts them in
``failed`` and reports ``correct`` only when the list is empty.
"""
from __future__ import annotations

import collections
import re

# row layout collected from the extracted table
ROW_FIELDS = ("url", "page_number", "text", "table", "combined", "markdown",
              "spans", "ok")
# golden row layout: [page_number, text, table, combined, markdown, spans]
_CHECKED = (("text", 1), ("table", 2), ("combined", 3), ("markdown", 4),
            ("spans", 5))


def check_extraction(golden: dict[str, dict], rows: list[tuple]) -> list[str]:
    """Each golden url must land exactly its expected (url, page_number)
    rows, once each, with byte-identical channels, spans and ``meta.ok``;
    no other url may land."""
    by_url: dict[str, list[tuple]] = collections.defaultdict(list)
    for r in rows:
        by_url[r[0]].append(r)
    problems = [f"unexpected url {u}" for u in by_url if u not in golden]
    for url, g in golden.items():
        got = by_url.get(url)
        if not got:
            problems.append(f"missing {url}")
            continue
        pages = collections.Counter(r[1] for r in got)
        dup = sorted(p for p, c in pages.items() if c > 1)
        if dup:
            problems.append(f"duplicated {url} pages {dup}")
            continue
        want = {row[0]: row for row in g["rows"]}
        if set(pages) != set(want):
            problems.append(f"pages differ {url}: {sorted(pages)} != {sorted(want)}")
            continue
        ok = "true" if g["ok"] else "false"
        for r in got:
            exp = want[r[1]]
            bad = []
            for name, i in _CHECKED:
                if exp[i] is None:
                    continue
                have, need = r[ROW_FIELDS.index(name)], exp[i]
                if name == "spans":
                    have, need = _spans(have), _spans(need)
                if have != need:
                    bad.append(name)
            if r[7] != ok:
                bad.append("meta.ok")
            if bad:
                problems.append(f"differs {url} page {r[1]}: {bad}")
                break
    return problems


def _spans(spans) -> list[tuple]:
    return [tuple(s) for s in spans or []]


def check_failures(golden: dict[str, dict], reported: int) -> list[str]:
    """``ExtractionJob.run`` must report exactly the golden failures."""
    want = sum(not g["ok"] for g in golden.values())
    return [] if reported == want else [f"run() failures {reported} != golden {want}"]


# -- near-duplicate gate -----------------------------------------------------

_WS = re.compile(r"\s+")


def shingles(text: str, n: int = 3) -> set[str]:
    """Distinct word n-grams of the lower-cased, whitespace-collapsed text
    (a document shorter than n words is one shingle)."""
    toks = _WS.sub(" ", text.lower()).strip().split(" ")
    toks = [t for t in toks if t] or [""]
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 1.0


def components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find over the pair graph: node → smallest node id in its
    component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_neardup(texts: dict[int, str], pairs: list[tuple[int, int]],
                  planted: list[tuple[int, int]], groups: dict[int, int],
                  threshold: float, must_find: float = 0.8) -> list[str]:
    """Every emitted pair clears ``threshold`` on exact Jaccard; every
    planted (copy, source) pair at Jaccard >= ``must_find`` is emitted;
    the groups equal a union-find over the emitted pairs."""
    sh = {i: shingles(t) for i, t in texts.items()}
    problems = [f"pair {a},{b} below threshold"
                for a, b in pairs if jaccard(sh[a], sh[b]) < threshold]
    found = {(min(a, b), max(a, b)) for a, b in pairs}
    problems += [f"planted pair {c},{s} not found" for c, s in planted
                 if jaccard(sh[c], sh[s]) >= must_find
                 and (min(c, s), max(c, s)) not in found]
    want = components(pairs)
    if groups != want:
        diff = sorted(set(groups.items()) ^ set(want.items()))[:5]
        problems.append(f"groups differ from union-find: {diff}")
    return problems
