"""Mention detection: extracted text × broadcast alias dictionary.

The canonical analog of Surfactant's pattern-DB matching
(surfactant/infoextractors/js_file.py:112-149 — first-match-wins per
library; surfactant/infoextractors/native_lib_file.py:157-274 —
Aho-Corasick literal prefilter then regex confirm).

Spark shape: the compiled dictionary is broadcast once; detection runs
as ``mapInPandas`` where each Arrow batch is prefiltered with
*vectorized* pandas ``str.contains`` on the pattern's literal(s) —
the AC-prefilter analog — and only prefilter survivors pay the Python
regex confirm.  First-match-wins per (page, entity_key) is enforced by
pattern order, exactly like the reference's break-on-first
(js_file.py:146-148).

Scale note: detection is paid per UNIQUE content hash, not per url —
the caller dedups on ``content_sha256`` first (the reference's sha256
dedup rationale, surfactant/sbomtypes/_sbom.py:205-263).  At 10^12 docs
with heavy duplication this is the single largest UDF-cost saving.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..dictionary import CompiledDictionary, compile_dictionary
from ..schema import MENTIONS_SCHEMA


def unique_content(extracted: DataFrame) -> DataFrame:
    """One row per content_sha256.  text/lang are functions of the
    content bytes, so any representative row is equivalent."""
    return extracted.select("content_sha256", "lang", "text").dropDuplicates(
        ["content_sha256"]
    )


# duplicate-rate above which pre-deduping content before the detection
# UDF pays for its shuffle (shared with the pipeline's edges-stage
# mentions_unique decision — the two MUST agree)
CONTENT_DEDUP_THRESHOLD = 0.10


def content_for_detection(
    extracted: DataFrame,
    dedup_threshold: float = CONTENT_DEDUP_THRESHOLD,
    sample_fraction: float | None = None,
    stats: tuple[int, int] | None = None,
) -> DataFrame:
    """Adaptive pre-dedup: deduping before the detection UDF trades a
    full shuffle of the text column against re-detecting duplicate
    contents.  Worth it only when the duplicate rate is material —
    estimated from a cheap hash-only sample (the text column never
    moves for the estimate).  Real web crawls (30-60% dup) take the
    dedup path; low-dup corpora skip the shuffle entirely.  Either
    path yields the same edge set: downstream aggregations dedup on
    (content, entity).  ``stats``: caller-supplied ``(n, distinct)``
    from stats.column_stats skips the probe job (shared stats pass)."""
    from ..stats import column_stats, dup_rate as _dup_rate

    if stats is None:
        stats = column_stats(
            extracted, "content_sha256", sample_fraction=sample_fraction
        )
    if stats[0] == 0:
        return unique_content(extracted)
    if _dup_rate(stats) >= dedup_threshold:
        return unique_content(extracted)
    return extracted.select("content_sha256", "lang", "text")


# Above this many patterns, one Aho-Corasick scan beats per-literal
# vectorized substring passes.  Measured (tools/bench_dictionary.py,
# 20k × 5-10 KB pages, ~1 planted hit/page): vectorized wins to ~128
# patterns (C-speed str.contains, cost ∝ patterns × bytes), AC is flat
# ~1.4 s from 16 to 20,000 patterns (one pure-Python pass, cost ∝
# bytes); curves cross between 128 and 256.  r1-r3 assumed 32 — that
# under-used the faster vectorized path for mid-size dictionaries.
AC_THRESHOLD = 192

# Regex-confirm window around an AC candidate position, matching the
# reference's ±(50, 4096)-byte windows
# (surfactant/infoextractors/native_lib_file.py:246-270): a true regex
# match must contain a prefilter literal, so scanning only
# [literal_start-50, literal_start+4096) costs O(window) instead of
# O(len(text)) per candidate.  This equals the full-text search only
# under the reference's bounded-match-span assumption: a match whose
# variable material extends >50 chars before its prefilter literal, or
# >4096 chars past it, is outside every window and missed — identical
# behavior to the reference's window policy, but not a mathematical
# identity for arbitrary patterns.
WINDOW_BEFORE = 50
WINDOW_AFTER = 4096


def _detect_batches(
    compiled: CompiledDictionary,
    ac_threshold: int = AC_THRESHOLD,
    windowed_confirm: bool = True,
):
    patterns = compiled.patterns  # already in first-match-wins order
    use_ac = len(patterns) > ac_threshold
    ac = None
    lit_info: list[tuple[int, list[int]]] = []  # lit_id → (len, pattern idxs)
    if use_ac:
        from ..functions.ahocorasick import AhoCorasick

        lit_ids: dict[str, int] = {}
        for idx, p in enumerate(patterns):
            for lit in p.prefilter:
                li = lit_ids.setdefault(lit, len(lit_ids))
                if li == len(lit_info):
                    lit_info.append((len(lit), []))
                lit_info[li][1].append(idx)
        ac = AhoCorasick({lit: [li] for lit, li in lit_ids.items()})

    def _confirm(i, p, text_i, matched, out_rows):
        if p.entity_key in matched[i]:
            return  # first-match-wins per entity
        m = p.rx.search(text_i)
        if m is None:
            return
        version = m.group(1) if p.rx.groups >= 1 else None
        matched[i].add(p.entity_key)
        out_rows.append((i, p.entity_key, version, p.confidence, p.kind))

    def _confirm_windowed(i, p, text_i, starts, matched, out_rows):
        """Regex confirm restricted to ±(WINDOW_BEFORE, WINDOW_AFTER)
        regions around candidate starts.  Two cost guards keep this
        never-worse than one full-text search: (a) texts no longer than
        one window take the single full scan; (b) candidate starts
        closer than WINDOW_AFTER merge into ONE region, so k clustered
        candidates cost one search over their shared span instead of k
        overlapping window scans (measured 10× regression without the
        merge on 5-10 KB pages whose prefilter literals are frequent
        words).  First confirming region wins = leftmost confirmed
        occurrence, matching full-text ``rx.search`` for matches that
        fit the window span (see the WINDOW_* note above for the
        bounded-match-span caveat)."""
        if p.entity_key in matched[i]:
            return
        n = len(text_i)
        if n <= WINDOW_BEFORE + WINDOW_AFTER:
            regions = [(0, n)]
        else:
            regions = []
            lo = hi = starts[0]
            for s in starts[1:]:  # ascending
                if s - hi <= WINDOW_AFTER:
                    hi = s
                else:
                    regions.append((max(0, lo - WINDOW_BEFORE), hi + WINDOW_AFTER))
                    lo = hi = s
            regions.append((max(0, lo - WINDOW_BEFORE), hi + WINDOW_AFTER))
        for a, b in regions:
            m = p.rx.search(text_i, a, b)
            if m is not None:
                version = m.group(1) if p.rx.groups >= 1 else None
                matched[i].add(p.entity_key)
                out_rows.append((i, p.entity_key, version, p.confidence, p.kind))
                return

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            text = pdf["text"].fillna("")
            matched: list[set] = [set() for _ in range(n)]
            out_rows: list[tuple[int, str, str | None, int, str]] = []
            if use_ac:
                # one automaton pass per row finds ALL candidate
                # positions; confirm in pattern order (first-match-wins
                # identical to the vectorized path) inside windows
                # around those positions only
                for i in range(n):
                    t = text.iat[i]
                    tl = t.lower()  # lowered ONCE; AC offsets are against tl
                    cand: dict[int, list[int]] = {}
                    for lit_id, end in ac.find_all(tl):
                        lit_len, pidxs = lit_info[lit_id]
                        for pi in pidxs:
                            cand.setdefault(pi, []).append(end - lit_len + 1)
                    # str.lower() can change length for rare Unicode code
                    # points ('İ' → 'i̇'); offsets into tl are then invalid
                    # windows into t, so such rows take the full-text path
                    windows_ok = windowed_confirm and len(tl) == len(t)
                    for pi in sorted(cand):
                        if windows_ok:
                            _confirm_windowed(
                                i, patterns[pi], t, sorted(cand[pi]), matched, out_rows
                            )
                        else:  # full-text confirm (also the measurement baseline)
                            _confirm(i, patterns[pi], t, matched, out_rows)
            else:
                lower = text.str.lower()
                for p in patterns:
                    # vectorized literal prefilter (small dictionaries)
                    mask = None
                    for lit in p.prefilter:
                        m = lower.str.contains(lit, regex=False)
                        mask = m if mask is None else (mask | m)
                    if not mask.any():
                        continue
                    for i in mask.to_numpy().nonzero()[0]:
                        _confirm(i, p, text.iat[i], matched, out_rows)
            if not out_rows:
                continue
            idx = [r[0] for r in out_rows]
            yield pd.DataFrame(
                {
                    "content_sha256": pdf["content_sha256"].to_numpy()[idx],
                    "lang": pdf["lang"].to_numpy()[idx],
                    "entity_key": [r[1] for r in out_rows],
                    "version": [r[2] for r in out_rows],
                    "confidence": [r[3] for r in out_rows],
                    "matched_via": [r[4] for r in out_rows],
                }
            )

    return fn


# Above this many patterns the compiled dictionary ships via
# sparkContext.broadcast (torrent distribution, one copy per executor)
# instead of the task closure (re-serialized into EVERY task); the
# automaton/regexes are then rebuilt once per worker and memoized.
BROADCAST_THRESHOLD = 512

# worker-side memo: token → detection closure.  A python worker is
# reused across tasks, so a production-size dictionary pays its
# automaton build once per worker, not once per task.  Tiny bounded
# cache — a worker sees a handful of dictionaries per session.
_WORKER_DETECT_CACHE: dict = {}


def _detect_via_broadcast(bc, token: str, ac_threshold: int, windowed_confirm: bool):
    def fn(batches):
        f = _WORKER_DETECT_CACHE.get(token)
        if f is None:
            if len(_WORKER_DETECT_CACHE) > 8:
                _WORKER_DETECT_CACHE.clear()
            f = _detect_batches(bc.value, ac_threshold, windowed_confirm)
            _WORKER_DETECT_CACHE[token] = f
        yield from f(batches)

    return fn


def detect_mentions(
    content: DataFrame,
    compiled: CompiledDictionary | None = None,
    ac_threshold: int = AC_THRESHOLD,
    windowed_confirm: bool = True,
    broadcast_threshold: int = BROADCAST_THRESHOLD,
) -> DataFrame:
    """content(content_sha256, lang, text) → MENTIONS_SCHEMA.

    The dictionary is compiled driver-side once (the reference's
    init_hook analog, surfactant/plugin/hookspecs.py:146-156).  Small
    dictionaries ship inside the serialized task closure (a few KB);
    above ``broadcast_threshold`` patterns a production-size dictionary
    (RetireJS/EMBA scale: thousands of entries, MBs compiled) ships via
    ``sparkContext.broadcast`` — one torrent copy per executor instead
    of a per-task closure payload — and each worker memoizes the built
    automaton across tasks.

    Above ``ac_threshold`` patterns the prefilter switches from
    per-literal vectorized substring passes to a single Aho-Corasick
    scan per row (functions/ahocorasick.py) — the reference's automaton
    strategy (surfactant/utils/ahocorasick.py:133-172).
    """
    if compiled is None:
        compiled = compile_dictionary()
    src = content.select("content_sha256", "lang", "text")
    if len(compiled.patterns) > broadcast_threshold:
        import hashlib as _hl

        sc = content.sparkSession.sparkContext
        # token covers the FULL pattern tuples, not just the regex
        # strings: two dictionaries with identical regexes but
        # different entity_key/kind/confidence must not collide in the
        # worker memo (stale closure would mis-attribute mentions —
        # r4 ADVICE)
        token = _hl.md5(
            f"{ac_threshold}|{windowed_confirm}|".encode()
            + "|".join(
                f"{p.entity_key}\x1f{p.kind}\x1f{p.pattern}\x1f{p.order}"
                f"\x1f{p.confidence}"
                for p in compiled.patterns
            ).encode()
        ).hexdigest()
        bc = sc.broadcast(compiled)
        fn = _detect_via_broadcast(bc, token, ac_threshold, windowed_confirm)
    else:
        fn = _detect_batches(compiled, ac_threshold, windowed_confirm)
    return src.mapInPandas(fn, schema=MENTIONS_SCHEMA)
