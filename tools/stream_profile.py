"""Phase-profile one streaming registry query: run it and dump the
StreamingQueryProgress durationMs breakdown per micro-batch, plus total
wall. Usage: python tools/stream_profile.py <query_name> [reps]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    name = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from apache_beam_challange_spark.session import get_spark
    import __spark_entry__ as e

    spark = get_spark("stream_profile")
    qs = e.all_queries()

    # monkeypatch run_to_memory to capture progress
    from apache_beam_challange_spark.streaming import windows as W

    orig = W.run_to_memory
    captured = []

    def patched(sdf, output_mode="complete"):
        t0 = time.time()
        nm = f"stream_result_{next(W._sink_counter)}"
        sp = sdf.sparkSession
        prev = sp.conf.get("spark.sql.shuffle.partitions")
        sp.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            t_start0 = time.time()
            q = (
                sdf.writeStream.format("memory")
                .queryName(nm)
                .outputMode(output_mode)
                .trigger(availableNow=True)
                .start()
            )
            t_started = time.time()
            q.awaitTermination()
            t_done = time.time()
        finally:
            sp.conf.set("spark.sql.shuffle.partitions", prev)
        captured.append(
            {
                "start_call": round(t_started - t_start0, 3),
                "await": round(t_done - t_started, 3),
                "progress": [
                    {
                        "batchId": p["batchId"],
                        "numInputRows": p.get("numInputRows"),
                        "durationMs": p.get("durationMs"),
                    }
                    for p in (
                        json.loads(str(x.json)) for x in q.recentProgress
                    )
                ],
            }
        )
        return sp.table(nm)

    W.run_to_memory = patched
    import apache_beam_challange_spark.plans.stream as S

    S.run_to_memory = patched

    for r in range(reps):
        captured.clear()
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        wall = time.time() - t0
        print(f"rep {r}: wall {wall:.3f}")
        for c in captured:
            print(
                f"  start_call {c['start_call']} await {c['await']}"
            )
            for p in c["progress"]:
                print(
                    f"    batch {p['batchId']} rows {p['numInputRows']} "
                    f"durations {p['durationMs']}"
                )


if __name__ == "__main__":
    main()
