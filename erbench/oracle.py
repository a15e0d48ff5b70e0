"""The DuckDB side of the ``doc_leaves`` correctness gate.

A leaf's Spark rows are compared with the rows of its ``oracle_sql()``
twin, each cell normalized as in ``tools/check_correctness.py`` (columns
by name, floats at 6 decimals), row by row on the leaf's key. A cell may
differ in one case only: the float's exact value, recomputed here with
rational arithmetic from the documents, lies half-way between two
6-decimal values. There each engine's double can land on either side of
the half (er_scores score 0.3 * 39/40 + 0.7 * 1/64 = 0.3034375 reads
0.303437 in Spark and 0.303438 in DuckDB). Such a cell must hold one of
the two neighbours, and an ``is_match`` beside a tied score must agree
with its own engine's score; it is counted as a rounding tie. Any other
difference fails the leaf.
"""

from __future__ import annotations

import hashlib
import re
from fractions import Fraction

from go_dedupe_spark.entry_queries import ER_THRESHOLD, ER_W_JAC, ER_W_JW, NGRAM_JAC_N
from tools.check_correctness import norm_rows

SCALE = 10 ** 6
FLOAT_COLUMNS = {
    "er_scores": ("jw_path", "jaccard_content", "score"),
    "dedup_ngram_jaccard": ("jaccard",),
}


def duckdb_rows(jobs: list[tuple[str, object, str]]) -> dict[str, tuple]:
    """Run each (name, documents frame, sql) on its own single-threaded
    DuckDB connection -> name -> (column names, rows)."""
    import duckdb

    out = {}
    for name, docs, sql in jobs:
        con = duckdb.connect()
        try:
            # one thread: this runs beside Spark's reference run
            con.execute("SET threads = 1")
            con.register("documents", docs)
            cur = con.execute(sql)
            out[name] = ([d[0] for d in cur.description], cur.fetchall())
        finally:
            con.close()
    return out


# ------------------------------------------------------ exact values


def _jaro_winkler(s1: bytes, s2: bytes) -> Fraction:
    """functions/similarity._jaro_winkler_bytes in rational arithmetic."""
    len1, len2 = len(s1), len(s2)
    if len1 == 0 or len2 == 0:
        return Fraction(0)
    if s1 == s2:
        return Fraction(1)
    window = max(max(len1, len2) // 2 - 1, 0)
    matched2 = [False] * len2
    chars1 = []
    for i, c in enumerate(s1):
        for j in range(max(0, i - window), min(len2, i + window + 1)):
            if not matched2[j] and s2[j] == c:
                matched2[j] = True
                chars1.append(c)
                break
    m = len(chars1)
    if m == 0:
        return Fraction(0)
    chars2 = [s2[j] for j in range(len2) if matched2[j]]
    t = sum(a != b for a, b in zip(chars1, chars2)) // 2
    jaro = (Fraction(m, len1) + Fraction(m, len2) + Fraction(m - t, m)) / 3
    if jaro <= Fraction(7, 10):
        return jaro
    prefix = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a != b:
            break
        prefix += 1
    return jaro + prefix * Fraction(1, 10) * (1 - jaro)


def _jaccard(a: set, b: set) -> Fraction:
    return Fraction(len(a & b), len(a | b))


def _token_shingles(text: str) -> set[str]:
    toks = [t for t in re.split(r"[^a-z0-9_]+", text.lower()) if t]
    if len(toks) < 3:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def _char_grams(text: str) -> set[int]:
    n = NGRAM_JAC_N
    grams = [text] if len(text) < n else \
        [text[i:i + n] for i in range(len(text) - n + 1)]
    return {int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams}


class ExactValues:
    """Exact float outputs of the ER leaves for one documents frame."""

    def __init__(self, docs):
        self.by_id = {int(r.doc_id): r for r in docs.itertuples(index=False)}
        self.by_sha = {hashlib.sha256(f"doc:{d}".encode()).hexdigest(): r
                       for d, r in self.by_id.items()}

    def er_scores(self, id_a: str, id_b: str) -> dict[str, Fraction]:
        a, b = self.by_sha[id_a], self.by_sha[id_b]
        jw = _jaro_winkler(f"{a.source}/doc_{a.doc_id}.txt".encode(),
                           f"{b.source}/doc_{b.doc_id}.txt".encode())
        jac = _jaccard(_token_shingles(a.text), _token_shingles(b.text))
        w_jw, w_jac = Fraction(str(ER_W_JW)), Fraction(str(ER_W_JAC))
        return {"jw_path": jw, "jaccard_content": jac,
                "score": w_jw * jw + w_jac * jac}

    def dedup_ngram_jaccard(self, id_a: str, id_b: str) -> dict[str, Fraction]:
        a, b = self.by_id[int(id_a)], self.by_id[int(id_b)]
        return {"jaccard": _jaccard(_char_grams(a.text), _char_grams(b.text))}


def tie_neighbours(value: Fraction) -> set[str] | None:
    """The two 6-decimal strings either side of ``value`` when it lies
    exactly half-way between them; else None."""
    scaled = value * SCALE
    if scaled.denominator != 2 or value < 0:
        return None
    lo = scaled.numerator // 2
    return {f"{k // SCALE}.{k % SCALE:06d}" for k in (lo, lo + 1)}


# -------------------------------------------------------- comparison


def oracle_match(leaf: str, exact: ExactValues, cols, srows, ocols,
                 orows) -> tuple[bool, int]:
    """Spark rows (``cols``/``srows``) against DuckDB rows -> (equal,
    rounding ties)."""
    if sorted(cols) != sorted(ocols) or len(srows) != len(orows):
        return False, 0
    spark = norm_rows(cols, [[r[c] for c in cols] for r in srows])
    duck = norm_rows(ocols, orows)
    if spark == duck:
        return True, 0
    names = sorted(cols)
    floats = FLOAT_COLUMNS.get(leaf)
    if floats is None:
        return False, 0
    key = [names.index("id_a"), names.index("id_b")]
    by_key = {tuple(r[k] for k in key): r for r in duck}
    if len(by_key) != len(duck):
        return False, 0
    ties = 0
    for row in spark:
        k = tuple(row[i] for i in key)
        other = by_key.get(k)
        if other is None:
            return False, ties
        diff = {names[i] for i, (x, y) in enumerate(zip(row, other)) if x != y}
        if not diff:
            continue
        values = getattr(exact, leaf)(*k)
        tied = set()
        for c in diff & set(floats):
            near = tie_neighbours(values[c])
            i = names.index(c)
            if near is None or not {row[i], other[i]} <= near:
                return False, ties
            tied.add(c)
        rest = diff - tied
        if rest == {"is_match"} and "score" in tied:
            s, m = names.index("score"), names.index("is_match")
            if any(r[m] != str(int(float(r[s]) >= ER_THRESHOLD))
                   for r in (row, other)):
                return False, ties
        elif rest:
            return False, ties
        ties += 1
    return True, ties
