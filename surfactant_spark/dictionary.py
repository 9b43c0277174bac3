"""Alias dictionary: build, validate, compile, broadcast.

The analog of Surfactant's RetireJS/EMBA pattern DBs
(surfactant/infoextractors/js_file.py:54-95,
surfactant/infoextractors/native_lib_file.py:56-104): a small driver-side
dictionary of ``entity_key → patterns`` compiled once and broadcast to
executors, where vectorized Arrow UDFs score page text against it.

Compile rules mirror the reference's prefilter policy
(surfactant/utils/ahocorasick.py:133-172 — skip patterns whose usable
literal is shorter than 2 chars or that expand to more than 10 literals;
surfactant/infoextractors/js_file.py:88-93 — invalid regexes are logged
and skipped, never fatal).
"""

from __future__ import annotations

import hashlib
import logging
import re
from dataclasses import dataclass, field

logger = logging.getLogger(__name__)

_META = set("\\.^$*+?{}[]()|")

# ---------------------------------------------------------------------------
# Built-in fixture dictionary (FIXTURES.md §2).  Order matters:
# first-match-wins per entity_key (js_file.py:146-148).
# ---------------------------------------------------------------------------
DEFAULT_ROWS: list[tuple[str, str, str, str | None]] = [
    # (entity_key, kind, pattern, canonical_id_hint)
    ("libalpha", "content", r"libalpha v(\d+(?:\.\d+)*)", "alpha"),
    ("libalpha", "name", "libalpha", "alpha"),
    ("alphalib", "name", "alphalib", "alpha"),
    ("alphalib", "name", "alpha-lib", "alpha"),
    ("betajs", "content", r"betajs/(\d+(?:\.\d+)*)", "beta"),
    ("betajs", "name", "beta.js", "beta"),
    ("betajs", "name", "betajs", "beta"),
    ("gammasql", "content", r"gammasql (\d+(?:\.\d+)*)", "gamma"),
    ("gammasql", "name", "gamma-sql", "gamma"),
    ("deltadb", "name", "deltadb", None),
    ("epsilonml", "content", r"epsilonml v(\d+(?:\.\d+)*)", "eps"),
    ("epsilonml", "name", "eps-ml", "eps"),
    ("zetacache", "name", "zetacache", None),
    ("etaqueue", "name", "etaqueue", "eta"),
    ("etaqueue", "name", "eta-q", "eta"),
    ("thetanet", "content", r"thetanet (\d+(?:\.\d+)*)", None),
    ("thetanet", "name", "thetanet", None),
    # rows that MUST be skipped by compile rules:
    ("badshort", "content", r"a(\d+)", None),  # 1-char literal prefix
    ("badwide", "content", "(" + "|".join(f"w{i}x{i}" for i in range(12)) + ")", None),
    ("badregex", "content", r"unclosed[(", None),  # invalid regex
]

# Alias edges between entity_keys (FIXTURES.md §3) — the union-find input.
# Chains exercise multi-hop components; keys not in the dictionary
# (alphacore, beta-js-core) are linked-only nodes.
DEFAULT_ALIAS_EDGES: list[tuple[str, str]] = [
    ("libalpha", "alphalib"),
    ("alphalib", "alphacore"),
    ("betajs", "beta-js-core"),
    ("etaqueue", "eta-q-legacy"),
]

CONF_CONTENT = 90  # regex content match
CONF_NAME = 70  # exact name match


def literal_prefix(pattern: str) -> str:
    """Leading literal chars of a regex (chars before the first metachar).

    Simplified analog of the reference's sre-based literal extraction
    (surfactant/utils/regex.py:66-120).
    """
    out = []
    i = 0
    while i < len(pattern):
        c = pattern[i]
        if c == "\\" and i + 1 < len(pattern) and pattern[i + 1] in _META:
            out.append(pattern[i + 1])
            i += 2
            continue
        if c in _META:
            break
        out.append(c)
        i += 1
    return "".join(out)


def alternation_literals(pattern: str) -> list[str] | None:
    """If pattern is exactly ``(lit1|lit2|…)`` of plain literals, return
    them; else None."""
    if not (pattern.startswith("(") and pattern.endswith(")")):
        return None
    body = pattern[1:-1]
    parts = body.split("|")
    if len(parts) < 2:
        return None
    for p in parts:
        if not p or any(ch in _META for ch in p):
            return None
    return parts


# ---------------------------------------------------------------------------
# sre-tree literal extraction
# ---------------------------------------------------------------------------
#
# Every regex match must contain, contiguously, one member of each
# "chunk" extracted below — so any single chunk is a sound prefilter
# (the Aho-Corasick automaton scans for its members and the regex runs
# only near hits).  This covers arbitrary regexes — e.g. the optional
# prefix `(?:lib)?foo\d` yields chunk {"foo"} — where the older
# prefix/pure-alternation extractors gave up (silent recall loss as the
# dictionary grows).  Semantics-parity target: the reference's
# sre-based extractor (surfactant/utils/regex.py:66-120) with its skip
# policy (surfactant/utils/ahocorasick.py:158-169: >10 literals or
# <2-char literals → pattern is unfiltered / skipped).

_CHUNK_CAP = 64  # alternation cross-products beyond this → chunk unusable


def _parse_tree(pattern: str):
    try:
        from re import _parser as sre_parser  # py3.11+
    except ImportError:  # pragma: no cover
        import sre_parse as sre_parser
    return sre_parser.parse(pattern)


def _exact_strings(seq, cap: int = _CHUNK_CAP) -> set[str] | None:
    """The finite set of strings a purely-literal subtree matches, or
    None if the subtree is not purely literal (or explodes past cap)."""
    out = {""}
    for op, av in seq:
        name = str(op)
        if name == "LITERAL":
            out = {s + chr(av).lower() for s in out}
        elif name == "SUBPATTERN":
            inner = _exact_strings(av[3], cap)
            if inner is None:
                return None
            out = {s + i for s in out for i in inner}
        elif name == "BRANCH":
            alts = set()
            for branch in av[1]:
                b = _exact_strings(branch, cap)
                if b is None:
                    return None
                alts |= b
            out = {s + a for s in out for a in alts}
        elif name == "MAX_REPEAT" or name == "MIN_REPEAT":
            lo, hi, item = av
            if lo != hi:
                return None
            inner = _exact_strings(item, cap)
            if inner is None:
                return None
            for _ in range(lo):
                out = {s + i for s in out for i in inner}
                if len(out) > cap:
                    return None
        else:
            return None
        if len(out) > cap:
            return None
    return out


def _walk(seq, chunks: list[set[str]], cur: set[str]) -> set[str]:
    """Concatenation walk: grow the current literal chunk through
    mandatory literal material; CLOSE it (push to chunks) at anything
    variable.  Anchors and lookarounds consume nothing → transparent."""

    def close(cur: set[str]) -> set[str]:
        # a chunk containing "" is unsound (the region may match empty,
        # so no member is guaranteed present) — drop it entirely
        if cur and all(cur) and len(cur) <= _CHUNK_CAP:
            chunks.append(cur)
        return {""}

    for op, av in seq:
        name = str(op)
        if name == "LITERAL":
            cur = {s + chr(av).lower() for s in cur}
        elif name == "SUBPATTERN":
            exact = _exact_strings(av[3])
            if exact is not None:
                cur = {s + e for s in cur for e in exact}
            else:
                cur = _walk(av[3], chunks, cur)
        elif name == "BRANCH":
            exact = _exact_strings([(op, av)])
            if exact is not None:
                cur = {s + e for s in cur for e in exact}
            else:
                # some alternative is variable: chunks from one branch
                # are not required by the others → close and restart
                cur = close(cur)
        elif name in ("MAX_REPEAT", "MIN_REPEAT"):
            lo, hi, item = av
            if lo == 0:
                cur = close(cur)
                continue
            exact = _exact_strings(item)
            if exact is not None:
                for _ in range(lo):
                    cur = {s + e for s in cur for e in exact}
                    if len(cur) > _CHUNK_CAP:
                        break
                if hi != lo:
                    cur = close(cur)
            else:
                cur = _walk(item, chunks, cur)
                cur = close(cur)
        elif name in ("AT", "ASSERT", "ASSERT_NOT"):
            continue  # zero-width: does not interrupt adjacency
        else:  # IN, ANY, NOT_LITERAL, GROUPREF, …: variable material
            cur = close(cur)
        if len(cur) > _CHUNK_CAP:
            cur = set()  # oversized chunk is unusable; reset
            cur = close(cur)
    return cur


def regex_literal_chunks(pattern: str) -> list[set[str]]:
    """All literal chunks of ``pattern`` (lowercased): every match
    contains one member of EACH returned set, contiguously."""
    chunks: list[set[str]] = []
    try:
        tree = _parse_tree(pattern)
    except Exception:
        return []
    tail = _walk(list(tree), chunks, {""})
    if tail and all(tail) and len(tail) <= _CHUNK_CAP:
        chunks.append(tail)
    return chunks


def required_literals(pattern: str) -> tuple[tuple[str, ...] | None, str | None]:
    """Best prefilter literal set for ``pattern`` under the reference's
    skip policy: eligible chunks have ≤10 members, all ≥2 chars; the
    chunk with the longest shortest-member wins (ties → fewer members,
    then earliest).  Returns (literals, None) or (None, skip_reason)."""
    chunks = regex_literal_chunks(pattern)
    if not chunks:
        return None, "no-literals"
    eligible = [
        c for c in chunks if len(c) <= 10 and min(len(s) for s in c) >= 2
    ]
    if not eligible:
        if any(len(c) > 10 for c in chunks):
            return None, "too-many-literals"
        return None, "literal-too-short"
    best = max(
        enumerate(eligible),
        key=lambda ic: (min(len(s) for s in ic[1]), -len(ic[1]), -ic[0]),
    )[1]
    return tuple(sorted(best)), None


@dataclass
class CompiledPattern:
    entity_key: str
    kind: str  # 'name' | 'content'
    pattern: str
    order: int
    rx: "re.Pattern"
    prefilter: tuple[str, ...]  # lowercase literals; any-hit gates the regex
    confidence: int


@dataclass
class CompiledDictionary:
    patterns: list[CompiledPattern]
    skipped: list[tuple[str, str, str]] = field(default_factory=list)  # (key, pattern, why)

    def by_entity(self) -> dict[str, list[CompiledPattern]]:
        out: dict[str, list[CompiledPattern]] = {}
        for p in self.patterns:
            out.setdefault(p.entity_key, []).append(p)
        return out


def _name_regex(alias: str) -> "re.Pattern":
    # exact, case-insensitive, token-bounded (reference exact-name match:
    # surfactant/infoextractors/native_lib_file.py:219-220)
    return re.compile(
        r"(?<![A-Za-z0-9])" + re.escape(alias) + r"(?![A-Za-z0-9])", re.IGNORECASE
    )


# RetireJS-style version placeholder: the pattern DB writes a literal
# '§§version§§' marker where a version number goes; it compiles to the
# version-number regex before use (reference js_file.py:79-95 —
# non-capturing, exactly as there; a DB row that wants the version to
# surface via group(1) wraps the placeholder in its own parens).
VERSION_PLACEHOLDER = "§§version§§"
VERSION_NUMBER_PATTERN = r"\d+(?:\.\d+)*"


def compile_dictionary(
    rows: list[tuple[str, str, str, str | None]] | None = None,
) -> CompiledDictionary:
    rows = DEFAULT_ROWS if rows is None else rows
    patterns: list[CompiledPattern] = []
    skipped: list[tuple[str, str, str]] = []
    for order, (key, kind, pat, _hint) in enumerate(rows):
        if kind == "name":
            patterns.append(
                CompiledPattern(key, kind, pat, order, _name_regex(pat), (pat.lower(),), CONF_NAME)
            )
            continue
        if kind != "content":
            # filename/hash rows (dbingest.py) feed their own matchers —
            # compiling a hex digest or filename regex as a text pattern
            # would be silently wrong
            skipped.append((key, pat, f"unsupported-kind:{kind}"))
            continue
        # content regex: §§version§§ rewrite, validate, derive prefilter
        # literals, apply skip policy (rewrite-then-validate ordering as
        # in the reference: a pattern that only compiles after the
        # rewrite is kept, one that breaks after it is skipped)
        if VERSION_PLACEHOLDER in pat:
            pat = pat.replace(VERSION_PLACEHOLDER, VERSION_NUMBER_PATTERN)
        try:
            rx = re.compile(pat, re.IGNORECASE)
        except re.error as e:
            logger.warning("skipping invalid regex for %s: %s (%s)", key, pat, e)
            skipped.append((key, pat, "invalid-regex"))
            continue
        lits, why = required_literals(pat)
        if lits is None:
            skipped.append((key, pat, why))
            continue
        patterns.append(CompiledPattern(key, kind, pat, order, rx, lits, CONF_CONTENT))
    return CompiledDictionary(patterns=patterns, skipped=skipped)


def alias_edges(rows=None, extra: list[tuple[str, str]] | None = None) -> list[tuple[str, str]]:
    """Alias edges from canonical_id_hint groups + explicit edge list.

    Rows sharing a non-null hint are chained pairwise (a-b, b-c …), which
    union-find then closes transitively."""
    rows = DEFAULT_ROWS if rows is None else rows
    by_hint: dict[str, list[str]] = {}
    for key, _kind, _pat, hint in rows:
        if hint:
            lst = by_hint.setdefault(hint, [])
            if key not in lst:
                lst.append(key)
    edges: list[tuple[str, str]] = []
    for members in by_hint.values():
        for a, b in zip(members, members[1:]):
            edges.append((a, b))
    edges.extend(DEFAULT_ALIAS_EDGES if extra is None else extra)
    # dedup, keep order
    seen = set()
    out = []
    for e in edges:
        k = tuple(sorted(e))
        if k not in seen and e[0] != e[1]:
            seen.add(k)
            out.append(e)
    return out


def synth_dictionary_rows(
    n_entities: int, seed: str = "dict", version_rows: bool = True
) -> list[tuple[str, str, str, str | None]]:
    """Deterministic production-size dictionary: ``n_entities`` synthetic
    libraries shaped like RetireJS/EMBA entries (the reference DBs hold
    thousands of patterns; the built-in fixture holds ~20 — this
    generator sizes benches and the AC-threshold crossover honestly).

    Per entity i: a name alias ``lib<md5-8>`` and (optionally) a content
    regex ``lib<md5-8>/(§§version§§)``.  Literals are 11 chars, unique
    with overwhelming probability, and derived only from (seed, i) so
    two processes build identical dictionaries."""
    rows: list[tuple[str, str, str, str | None]] = []
    for i in range(n_entities):
        base = hashlib.md5(f"{seed}|{i}".encode()).hexdigest()[:8]
        key = f"lib{base}"
        rows.append((key, "name", key, None))
        if version_rows:
            rows.append((key, "content", rf"lib{base}/({VERSION_PLACEHOLDER})", None))
    return rows
