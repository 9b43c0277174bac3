"""Shuffle-volume A/B for the Bloom semi-join pre-filter.

The scenario where the Bloom filter earns its keep at 100 TB: the key
set is too big to broadcast, so the plain semi-join is a SHUFFLE join
that moves the ENTIRE probe table.  With the Bloom predicate applied
inside the scan stage, only matching rows plus the false-positive rate
reach the exchange.  Wall time at sandbox scale is steal-noise; BYTES
SHUFFLED is what predicts cluster behavior.

Both variants run with the broadcast threshold DISABLED so the exact
semi-join plans as a shuffle join, and both produce identical results
(asserted).  Prints one JSON line:
{"n_big": N, "n_keys": K, "match_rows": M, "bloom_pass_rows": C,
 "variants": {"plain_semi_join": {...}, "bloom_prefilter": {...}}}

Usage: PYTHONPATH=/root/repo python tools/bloom_audit.py [n_big] [n_keys]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

KEY_SPACE = 1_000_000


def _stages(ui: str):
    apps = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications"))
    app_id = apps[0]["id"]
    return json.load(
        urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
        )
    )


def main() -> None:
    n_big = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000_000
    n_keys = int(sys.argv[2]) if len(sys.argv) > 2 else 4_096
    m_bits = 1 << 16

    from pyspark.sql import functions as F

    from surfactant_spark.operators.skew import bloom_predicate
    from surfactant_spark.session import get_spark, host_cores

    cores = host_cores()
    spark = get_spark(
        app_name="bloom_audit", cores=cores,
        shuffle_partitions=max(2 * cores, 8),
        extra_conf={
            "spark.ui.enabled": "true",
            # the scenario: key set too big to broadcast
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            # keep Spark's own heuristic runtime filter out of the A/B
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "false",
        },
    )
    ui = spark.sparkContext.uiWebUrl

    big = (
        spark.range(n_big)
        .select(
            F.pmod(F.xxhash64("id"), F.lit(KEY_SPACE)).alias("k"),
            F.concat(F.lit("payload-"), F.col("id").cast("string"),
                     F.lit("-" + "x" * 64)).alias("v"),
        )
        .cache()
    )
    big.count()
    small = (
        spark.range(n_keys)
        .select(F.pmod(F.xxhash64(F.col("id") + 7), F.lit(KEY_SPACE)).alias("sk"))
        .distinct()
        .cache()
    )
    keys = small.select(F.col("sk").alias("k")).distinct().cache()
    keys.count()

    pred = bloom_predicate(small, "sk", "k", m=m_bits)
    match_rows = big.join(keys, "k", "left_semi").count()
    pass_rows = big.where(pred).count()

    def plain():
        return big.join(keys, "k", "left_semi")

    def bloomed():
        return big.where(pred).join(keys, "k", "left_semi")

    out = {
        "n_big": n_big, "n_keys": n_keys, "m_bits": m_bits,
        "match_rows": match_rows, "bloom_pass_rows": pass_rows,
        "false_positive_rate": round((pass_rows - match_rows) / n_big, 6),
        "variants": {},
    }
    counts = {}
    for name, fn in (("plain_semi_join", plain), ("bloom_prefilter", bloomed)):
        seen = {s["stageId"] for s in _stages(ui)}
        t0 = time.monotonic()
        counts[name] = fn().count()
        sec = time.monotonic() - t0
        new = [s for s in _stages(ui) if s["stageId"] not in seen]
        out["variants"][name] = {
            "shuffle_write": sum(s.get("shuffleWriteBytes", 0) for s in new),
            "shuffle_read": sum(s.get("shuffleReadBytes", 0) for s in new),
            "stages": len(new),
            "sec": round(sec, 3),
        }
    assert counts["plain_semi_join"] == counts["bloom_prefilter"], counts
    out["results_identical"] = True
    pw = out["variants"]["plain_semi_join"]["shuffle_write"]
    bw = out["variants"]["bloom_prefilter"]["shuffle_write"]
    out["shuffle_write_reduction"] = round(1 - bw / pw, 4) if pw else None
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
