from __future__ import annotations

import glob

from apache_beam_challange_spark.cli import main
from conftest import TESTDATA_ROOT


def test_cli_total_distance(spark, sf_dir, tmp_path):
    out = str(tmp_path / "td_out")
    rc = main(
        ["total-distance", "--sf-dir", sf_dir, "--output", out], spark=spark
    )
    assert rc == 0
    files = glob.glob(f"{out}/*.csv")
    assert len(files) == 1  # single-file sink, like the reference
    header = open(files[0]).readline().strip()
    assert header == "start_station_id,end_station_id,amount_of_rides,distance_km,total_km"


def test_cli_cycle_rides_topn(spark, sf_dir, tmp_path):
    out = str(tmp_path / "cr_out")
    rc = main(
        ["cycle-rides", "--sf-dir", sf_dir, "--output", out, "--top-n", "7"],
        spark=spark,
    )
    assert rc == 0
    rows = [
        line
        for f in glob.glob(f"{out}/*.csv")
        for line in open(f).read().splitlines()
        if line and not line.startswith("start_station_id")
    ]
    assert len(rows) == 7


def test_cli_stations_and_sql(spark, sf_dir, tmp_path):
    for pipeline, out in (("stations", "st_out"), ("sql-cycle-rides", "sq_out")):
        path = str(tmp_path / out)
        assert main([pipeline, "--sf-dir", sf_dir, "--output", path], spark=spark) == 0
        lines = [
            line
            for f in glob.glob(f"{path}/part-*")
            for line in open(f).read().splitlines()
        ]
        assert lines


def test_cli_cycle_rides_faithful_swaps(spark, tmp_path):
    import glob

    from apache_beam_challange_spark.cli import main

    sane, swapped = str(tmp_path / "sane"), str(tmp_path / "swapped")
    main(["cycle-rides", "--sf-dir", f"{TESTDATA_ROOT}/sf0.001",
          "--output", sane, "--top-n", "5"], spark=spark)
    main(["cycle-rides", "--sf-dir", f"{TESTDATA_ROOT}/sf0.001",
          "--output", swapped, "--top-n", "5", "--faithful"], spark=spark)

    def rows(path):
        out = []
        for f in glob.glob(f"{path}/*.csv"):
            lines = open(f).read().splitlines()
            out += [l.split(",") for l in lines[1:] if l]
        return sorted(out)

    assert rows(swapped) == sorted(
        [[e, s, n] for s, e, n in rows(sane)]
    )


def test_cli_generic_query_runner(spark, sf_dir, tmp_path, capsys):
    from apache_beam_challange_spark.cli import main

    assert main(["query", "--list"], spark=spark) == 0
    listing = capsys.readouterr().out
    # rotation-stable examples: the canonical core never leaves the driver
    # tier; the deliberately-quadratic baseline never enters it
    assert "q1_sql_top_pairs\tdriver" in listing
    assert "jaccard_pairs_by_source\textended" in listing

    out = str(tmp_path / "q")
    assert main(
        ["query", "pricing_summary", "--sf-dir", sf_dir, "--output", out],
        spark=spark,
    ) == 0
    assert spark.read.parquet(out).count() > 0

    assert main(["query", "no_such_query"], spark=spark) == 2
