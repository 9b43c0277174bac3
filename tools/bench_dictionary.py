"""Production-size dictionary bench (VERDICT r3 item 4).

The built-in fixture dictionary holds ~20 patterns; the reference's
RetireJS/EMBA DBs hold thousands.  This bench (a) locates the
AC_THRESHOLD prefilter crossover empirically — per-literal
vectorized substring passes vs one Aho-Corasick automaton scan — and
(b) measures mention detection throughput with a 10k-entity dictionary
shipped via sparkContext.broadcast.

Corpus: synthetic 5-10 KB pages; a deterministic subset of entities is
PLANTED into page texts (hit rate ~1 mention/page) so the confirm path
does real work; parity of the two prefilter paths is asserted on row
counts.

Usage: PYTHONPATH=/root/repo python tools/bench_dictionary.py [n_pages]
Prints one JSON line:
{"crossover": [{"n_patterns": N, "vectorized_sec": S, "ac_sec": S}...],
 "big_dict": {"n_entities": 10000, "n_patterns": P, "docs_per_sec": D,
              "ship": "broadcast"}}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_BIG = int(os.environ.get("SPARK_GRAFT_DICT_ENTITIES", "10000"))


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000

    from pyspark.sql import functions as F

    from surfactant_spark.dictionary import compile_dictionary, synth_dictionary_rows
    from surfactant_spark.operators.mentions import detect_mentions
    from surfactant_spark.session import get_spark, host_cores
    from surfactant_spark.sources.pages import synth_pages

    cores = host_cores()
    spark = get_spark(app_name="bench_dictionary", cores=cores,
                      shuffle_partitions=max(2 * cores, 8))
    spark.range(4 * cores).repartition(4 * cores).mapInPandas(
        lambda it: it, "id long"
    ).count()

    # corpus with planted mentions: page i gets entity (i % N_BIG)'s
    # name + a versioned content mention appended — deterministic, so
    # expected hits are exactly computable
    rows_big = synth_dictionary_rows(N_BIG)
    pages = synth_pages(spark, n_pages, partitions=4 * cores, body_scale=8)
    # planted key re-derives synth_dictionary_rows' md5 naming in-plan
    # (no 10k-literal array expression), entity index = hash(url) % N
    planted = F.concat(
        F.lit("lib"),
        F.substring(
            F.md5(
                F.concat(
                    F.lit("dict|"),
                    F.pmod(F.xxhash64(F.col("url")), F.lit(N_BIG)).cast("string"),
                )
            ),
            1, 8,
        ),
    )
    content = pages.select(
        F.sha2(F.col("html"), 256).alias("content_sha256"),
        "lang",
        F.concat(
            F.col("text"), F.lit(" uses "), planted, F.lit("/1.2.3 today")
        ).alias("text"),
    ).cache()
    n_rows = content.count()

    def run(compiled, **kw) -> float:
        t0 = time.monotonic()
        detect_mentions(content, compiled, **kw).write.format("noop").mode(
            "overwrite"
        ).save()
        return time.monotonic() - t0

    def count_rows(compiled, **kw) -> int:
        return detect_mentions(content, compiled, **kw).count()

    # (a) crossover: same dictionary, prefilter forced each way
    crossover = []
    for n_ent in (8, 16, 32, 64, 128, 256, 512, 1024):
        compiled = compile_dictionary(synth_dictionary_rows(n_ent))
        # parity first (cheap corpora): both paths must agree
        assert count_rows(compiled, ac_threshold=10**9) == count_rows(
            compiled, ac_threshold=0
        ), f"prefilter-path mismatch at {n_ent}"
        vec = min(run(compiled, ac_threshold=10**9) for _ in range(2))
        ac = min(run(compiled, ac_threshold=0) for _ in range(2))
        crossover.append(
            {"n_patterns": len(compiled.patterns),
             "vectorized_sec": round(vec, 3), "ac_sec": round(ac, 3)}
        )

    # (b) the 10k-entity dictionary (broadcast ship, AC path)
    compiled_big = compile_dictionary(rows_big)
    assert len(compiled_big.patterns) > 512  # broadcast path engaged
    big = min(run(compiled_big) for _ in range(2))
    out = {
        "n_pages": n_rows,
        "crossover": crossover,
        "big_dict": {
            "n_entities": N_BIG,
            "n_patterns": len(compiled_big.patterns),
            "sec": round(big, 3),
            "docs_per_sec": round(n_rows / big, 1),
            "ship": "broadcast",
        },
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
