"""The artifact-generation kernels in ``_artifacts``: the frozen-parameter
table round-trips node ids and vectors exactly, the tmp generation
writes once per process, and a failing catalog makes the warehouse
generation fall back to plain frames with one stderr note."""

import os


def test_params_round_trip_is_exact(spark):
    from wetsa_cams_solrad_timeseries_spark._artifacts import (
        TOKEN,
        load_params,
        save_params,
    )

    # 2**53 + 1 is the first integer a double cannot hold: an id routed
    # through the float payload would come back as 2**53.
    cents = [[0.1, 1.0 / 3.0, -2.5e-300], [1e300, -0.0, 7.0]]
    medoids = {0: 2**53 + 1, 1: 5}
    name = f"wetsa_paramstest_{TOKEN}"
    try:
        save_params(spark, name, cent=cents, medoid=medoids)
        got = load_params(spark, name)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    assert got["medoid"] == medoids
    assert got["cent"] == cents
    assert all(type(i) is int for i in got["medoid"].values())


def test_tmp_generation_writes_once(tmp_path):
    from wetsa_cams_solrad_timeseries_spark._artifacts import (
        TOKEN,
        tmp_generation,
    )

    calls = []

    def write(path):
        calls.append(path)
        os.makedirs(path, exist_ok=True)
        open(os.path.join(path, "_SUCCESS"), "w").close()

    sf_dir = str(tmp_path / "sfgen")
    first = tmp_generation(sf_dir, "gentest", write, suffix="_f2")
    again = tmp_generation(sf_dir, "gentest", write, suffix="_f2")
    other = tmp_generation(sf_dir, "gentest", write, suffix="_f3")
    assert first == again != other
    assert calls == [first, other]
    assert os.path.basename(first) == f"wetsa_gentest_{TOKEN}_sfgen_f2"


def test_catalog_failure_falls_back_with_a_note(
    spark, sf_dir, monkeypatch, capsys
):
    # q201 persisted, then q201 with a catalog that raises: the warehouse
    # generation must hand back None, the query must serve the same rows
    # from plain frames, and the fallback must say so on stderr.
    from wetsa_cams_solrad_timeseries_spark.plans.advanced import (
        q201_incremental_postings,
    )

    persisted = sorted(
        tuple(r) for r in q201_incremental_postings(spark, sf_dir).collect()
    )
    assert persisted
    capsys.readouterr()

    def boom(*a, **k):
        raise RuntimeError("metastore unavailable")

    monkeypatch.setattr(spark.catalog, "tableExists", boom)
    fallback = sorted(
        tuple(r) for r in q201_incremental_postings(spark, sf_dir).collect()
    )
    assert fallback == persisted
    err = capsys.readouterr().err
    assert "wetsa_postidx: warehouse/catalog unavailable" in err
    assert "metastore unavailable" in err
