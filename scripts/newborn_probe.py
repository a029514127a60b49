"""Dedicated follow-up scaling pass for queries born after the round's
main scaling_probe run (the q134/q135 protocol: fresh SparkSession per
tier, min-of-2 with state.clear() + gc before every timed run, cached
.scaling corpora). Merges rows into the existing SCALING_r{N}.json
instead of overwriting it.

Usage: SPARK_GRAFT_ROUND=9 python scripts/newborn_probe.py q137_bpe_encode q139_cc_star_clusters [--also-100x q137_bpe_encode]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scaling_probe import COPIES, COPIES_2, time_queries  # noqa: E402


def main() -> None:
    from synthetic_data_pipeline_spark.session import get_spark

    argv = sys.argv[1:]
    if "--also-100x" in argv:
        i = argv.index("--also-100x")
        probe, probe100 = argv[:i], argv[i + 1:]
    else:
        probe, probe100 = argv, []
    if not probe:
        sys.exit("usage: newborn_probe.py <query> [...] "
                 "[--also-100x <query> ...]")

    round_no = os.environ.get("SPARK_GRAFT_ROUND")
    if not round_no:
        sys.exit("set SPARK_GRAFT_ROUND=<n>")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_path = os.path.join(repo, f"SCALING_r{round_no}.json")
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    dst10 = os.path.join(repo, ".scaling", "sf1x")
    dst100 = os.path.join(repo, ".scaling", "sf100x")
    for d in (dst10,) + ((dst100,) if probe100 else ()):
        if not os.path.exists(f"{d}/_BUILT"):
            sys.exit(f"no cached scaled corpus at {d}; run "
                     "scaling_probe.py first")

    spark = get_spark(app_name="sdp-newborn-1x")
    t_1x = time_queries(spark, src, probe=sorted(set(probe + probe100)))
    spark.stop()
    spark = get_spark(app_name="sdp-newborn-10x")
    t_10x = time_queries(spark, dst10, probe=probe)
    spark.stop()
    t_100x = {}
    if probe100:
        spark = get_spark(app_name="sdp-newborn-100x")
        t_100x = time_queries(spark, dst100, probe=probe100)
        spark.stop()

    with open(out_path) as fh:
        result = json.load(fh)
    for name in probe:
        result["queries"][name] = {
            "t_1x": t_1x[name],
            "t_10x": t_10x[name],
            "per_row_ratio": round(t_10x[name] / (COPIES * t_1x[name]), 3),
        }
    for name in probe100:
        result.setdefault("queries_100x", {})[name] = {
            "t_1x": t_1x[name],
            "t_100x": t_100x[name],
            "per_row_ratio_100x": round(
                t_100x[name] / (COPIES_2 * t_1x[name]), 3
            ),
        }
    result["max_per_row_ratio"] = max(
        r["per_row_ratio"] for r in result["queries"].values()
    )
    if result.get("queries_100x"):
        result["max_per_row_ratio_100x"] = max(
            r["per_row_ratio_100x"] for r in result["queries_100x"].values()
        )
    with open(out_path, "w") as fh:
        json.dump(result, fh, indent=1)
    print(json.dumps({k: result["queries"][k] for k in probe}, indent=1))
    for name in probe100:
        print(json.dumps({name: result["queries_100x"][name]}, indent=1))
    print(f"merged into {out_path}")


if __name__ == "__main__":
    main()
