"""File-level zone maps: per-file column min/max harvested from parquet
footers at commit time (metadata-only — no data read), stored in the table
manifest, and used to drop whole files from a scan before Spark ever
lists them.

This is the manifest-level analog of the reference's per-block metadata
(/root/reference/src/access/cs.rs:91-107 stores rownum/colnum per L0
block; the Hologres/OceanBase lineage it cites lives on block zone maps),
and the same trick Delta/Iceberg use for file skipping. Parquet row-group
pruning still happens inside whatever files survive — this layer just
keeps Spark from opening files that cannot match.

Pruning is best-effort but must be SOUND: a read re-applies the full
predicate as a DataFrame filter, yet DELETE/UPDATE carry a pruned file
into the next version untouched, so a file holding a matching row must
never be pruned. Only top-level AND/OR split the predicate (not inside
quotes, parentheses or CASE … END); an unparseable or NOT conjunct, or a
column with no (or NaN) stats, simply prunes nothing.

At 100 TB the stats read is the scale risk, not the data: stats come from
file footers only (one footer read per new file, at commit, for files the
committer just wrote — typically page-cached), and the manifest stays
metadata-sized (a few numbers per file)."""

from __future__ import annotations

import re

# ---------------------------------------------------------------------------
# stats collection (commit-time, footer-only)
# ---------------------------------------------------------------------------

_STATTYPES = (int, float, str)


def collect_file_stats(files: list[str]) -> tuple[dict, int]:
    """({file -> {col -> [min, max]}}, total row count) for int/float/
    string columns with parquet statistics. Columns with missing,
    odd-typed or NaN stats are omitted (omitted ⇒ never pruned on). The
    row count comes from the same footers, so a writer learns how many
    rows it wrote without a count() job."""
    import pyarrow.parquet as pq

    out: dict = {}
    rows = 0
    for path in files:
        md = pq.ParquetFile(path).metadata
        rows += md.num_rows
        per_col: dict = {}
        ok: set = set()
        for rg in range(md.num_row_groups):
            rgm = md.row_group(rg)
            for ci in range(rgm.num_columns):
                col = rgm.column(ci)
                name = col.path_in_schema
                st = col.statistics
                if (
                    st is None
                    or not st.has_min_max
                    or not isinstance(st.min, _STATTYPES)
                    or not isinstance(st.max, _STATTYPES)
                    or isinstance(st.min, bool)
                    # a NaN bound compares false against everything
                    or st.min != st.min
                    or st.max != st.max
                ):
                    per_col.pop(name, None)
                    ok.discard(name)
                    continue
                if rg == 0:
                    per_col[name] = [st.min, st.max]
                    ok.add(name)
                elif name in ok:
                    per_col[name][0] = min(per_col[name][0], st.min)
                    per_col[name][1] = max(per_col[name][1], st.max)
        out[path] = per_col
    return out, rows


# ---------------------------------------------------------------------------
# simple conjunctive predicate parser
# ---------------------------------------------------------------------------

_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"
_NUM = r"-?\d+(?:\.\d+)?"
# no backslash or embedded quote: those need unescaping to compare right
_STR = r"'[^'\\]*'"
_LIT = f"(?:{_NUM}|{_STR})"

_CMP_RE = re.compile(
    rf"^\s*({_IDENT})\s*(<=|>=|=|<|>)\s*({_LIT})\s*$", re.IGNORECASE
)
_BETWEEN_RE = re.compile(
    rf"^\s*({_IDENT})\s+BETWEEN\s+({_LIT})\s+AND\s+({_LIT})\s*$", re.IGNORECASE
)
_IN_RE = re.compile(
    rf"^\s*({_IDENT})\s+IN\s*\(\s*({_LIT}(?:\s*,\s*{_LIT})*)\s*\)\s*$",
    re.IGNORECASE,
)
_WORD_RE = re.compile(r"[A-Za-z0-9_]+")
_NOT_RE = re.compile(r"^\s*NOT\b", re.IGNORECASE)


def _lit(tok: str):
    tok = tok.strip()
    if tok.startswith("'"):
        return tok[1:-1]
    return float(tok) if "." in tok else int(tok)


def _split_top(where: str, kw: str) -> list[str] | None:
    """Split `where` on the keyword `kw` (AND / OR) only where it stands
    at the top level: outside quotes ('…', "…", `…`), parentheses and
    CASE … END. The AND that closes a top-level BETWEEN stays inside its
    piece. None when the text can't be split safely (a comment, or
    unbalanced quotes, parentheses or CASE)."""
    pieces: list[str] = []
    start = depth = i = 0
    between = False
    n = len(where)
    while i < n:
        if depth < 0:
            return None
        c = where[i]
        if c in "'\"`":
            j = i + 1
            while j < n and where[j] != c:
                j += 2 if where[j] == "\\" and c != "`" else 1
            if j >= n:
                return None
            i = j + 1
            continue
        if where.startswith(("--", "/*"), i):
            return None
        m = _WORD_RE.match(where, i)
        if m:
            word = m.group().upper()
            if word == "CASE":
                depth += 1
            elif word == "END":
                depth -= 1
            elif depth == 0 and word == "BETWEEN":
                between = True
            elif depth == 0 and word == kw:
                if kw == "AND" and between:
                    between = False
                else:
                    pieces.append(where[start:i])
                    start = m.end()
            i = m.end()
            continue
        if c in "()":
            depth += 1 if c == "(" else -1
        i += 1
    if depth != 0:
        return None
    pieces.append(where[start:])
    return pieces


def parse_conjuncts(where: str) -> list[tuple[str, str, object, object]]:
    """Parse `a < 5 AND b BETWEEN 1 AND 2 AND c = 'x'` into
    [(col, op, lo, hi), …]. Only top-level conjuncts count (_split_top);
    a conjunct that doesn't fit the grammar, or is a NOT, is skipped
    (= prune nothing for it)."""
    out: list[tuple[str, str, object, object]] = []
    for piece in _split_top(where, "AND") or []:
        if _NOT_RE.match(piece):
            continue
        m = _BETWEEN_RE.match(piece)
        if m:
            out.append((m.group(1), "between", _lit(m.group(2)), _lit(m.group(3))))
            continue
        m = _CMP_RE.match(piece)
        if m:
            out.append((m.group(1), m.group(2), _lit(m.group(3)), None))
            continue
        m = _IN_RE.match(piece)
        if m:
            vals = [_lit(v) for v in _split_literals(m.group(2))]
            out.append((m.group(1), "in", vals, None))
    return out


def _split_literals(s: str) -> list[str]:
    return re.findall(_LIT, s)


# ---------------------------------------------------------------------------
# pruning
# ---------------------------------------------------------------------------


def _comparable(a, b) -> bool:
    if isinstance(a, str) != isinstance(b, str):
        return False
    return True


def _may_match(stats: dict, col: str, op: str, v, v2) -> bool:
    if col not in stats:
        return True
    lo, hi = stats[col]
    if not _comparable(lo, v):
        return True
    if isinstance(hi, float) and op in (">", ">="):
        # NaN sorts above every number in Spark, so it satisfies > and >=,
        # but parquet min/max leave NaN out (NaN-valued bounds are never
        # collected: collect_file_stats)
        return True
    if op == "=":
        return lo <= v <= hi
    if op == "<":
        return lo < v
    if op == "<=":
        return lo <= v
    if op == ">":
        return hi > v
    if op == ">=":
        return hi >= v
    if op == "between":
        return not (hi < v or lo > v2)
    if op == "in":
        return any(
            _comparable(lo, x) and lo <= x <= hi for x in v
        ) or any(not _comparable(lo, x) for x in v)
    return True


def prune(files: list[str], stats_by_file: dict, where: str) -> list[str]:
    """Files that may contain rows matching `where` (conjuncts the
    grammar can't parse prune nothing). Files absent from stats_by_file
    are always kept.

    A top-level OR (_split_top: not inside quotes, parentheses or
    CASE … END) splits into disjuncts and keeps the UNION of each
    disjunct's survivors; SQL precedence (AND binds tighter than OR)
    matches that split."""
    disjuncts = _split_top(where, "OR")
    if disjuncts is None:
        return list(files)
    if len(disjuncts) > 1:
        keep: set = set()
        for d in disjuncts:
            keep.update(_prune_conjunctive(files, stats_by_file, d))
        return [f for f in files if f in keep]
    return _prune_conjunctive(files, stats_by_file, where)


def _prune_conjunctive(
    files: list[str], stats_by_file: dict, where: str
) -> list[str]:
    conjuncts = parse_conjuncts(where)
    if not conjuncts:
        return list(files)
    kept = []
    for f in files:
        st = stats_by_file.get(f)
        if st is None:
            kept.append(f)
            continue
        if all(_may_match(st, c, op, v, v2) for (c, op, v, v2) in conjuncts):
            kept.append(f)
    return kept
