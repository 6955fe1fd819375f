"""End-to-end pipeline tests on generated reference-shaped fixtures
(FIXTURES.md F1/F2/F3/F4), validated against pandas/scipy oracles."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from wetsa_cams_solrad_timeseries_spark.pipelines.compare import run_compare
from wetsa_cams_solrad_timeseries_spark.pipelines.compile import compile_solar
from wetsa_cams_solrad_timeseries_spark.pipelines.ingest import (
    distributed_fetch,
    fetch_tasks,
    resample_file,
)
from wetsa_cams_solrad_timeseries_spark.sinks.netcdf import (
    to_dense_pandas,
    write_netcdf,
)
from wetsa_cams_solrad_timeseries_spark.sources.expert_csv import (
    peek_header,
    read_expert_csv,
)

EXPERT_COLS = [
    "Observation period", "TOA", "Clear sky GHI", "Clear sky BHI",
    "Clear sky DHI", "Clear sky BNI", "GHI", "BHI", "DHI", "BNI",
    "Reliability", "Cloud coverage",
]


def make_raw_expert_csv(path, minutes=720, gap=(100, 140), seed=0,
                        start="2024-01-01 00:00:00"):
    """CAMS csv_expert fixture: '#' metadata, '#' header (last), ';' data,
    a missing-minutes gap, and some empty cells."""
    rng = np.random.RandomState(seed)
    lines = ["# CAMS solar radiation data", "# Metadata: fixture"]
    lines.append("# " + ";".join(EXPERT_COLS))
    t0 = pd.Timestamp(start)
    for m in range(minutes):
        if gap[0] <= m < gap[1]:
            continue  # empty buckets for the grid divergence
        start = t0 + pd.Timedelta(minutes=m)
        end = start + pd.Timedelta(minutes=1)
        vals = rng.uniform(0, 1.2, len(EXPERT_COLS) - 1)
        cells = [f"{start.isoformat()}.0/{end.isoformat()}.0"]
        for i, v in enumerate(vals):
            cells.append("" if (m + i) % 37 == 0 else f"{v:.4f}")  # NaN cells
        lines.append(";".join(cells))
    path.write_text("\n".join(lines) + "\n")
    return path


def read_expert_pandas(path):
    """Pandas oracle read of the fixture (independent reimplementation of
    the reference's consumption semantics)."""
    header = None
    with open(path) as fh:
        for line in fh:
            if line.startswith("#"):
                s = line.lstrip("#").strip()
                if s:
                    header = s
            else:
                break
    names = [c.strip() for c in header.split(";")]
    pdf = pd.read_csv(path, comment="#", sep=";", header=None, names=names)
    pdf["time"] = pd.to_datetime(pdf["Observation period"].str.split("/").str[0])
    return pdf


def test_expert_csv_reader(spark, tmp_path):
    p = make_raw_expert_csv(tmp_path / "raw_1min_TestSt_observed_cloud.csv")
    assert peek_header(str(p)) == EXPERT_COLS
    sdf = read_expert_csv(spark, str(p))
    pdf = read_expert_pandas(p)
    assert sdf.count() == len(pdf)
    got = sdf.agg(F.sum("GHI"), F.count("GHI")).first()
    assert got[1] == pdf["GHI"].notna().sum()
    assert got[0] == pytest.approx(pdf["GHI"].sum(), rel=1e-9)


def test_ingest_aggregate_matches_pandas_resample(tmp_path):
    p = make_raw_expert_csv(tmp_path / "raw_1min_TestSt_observed_cloud.csv")
    got = resample_file(str(p))
    pdf = read_expert_pandas(p)
    exp = (
        pdf.set_index("time")
        .select_dtypes(include="number")
        .resample("10min")
        .mean()
    )
    assert list(got["time"]) == list(exp.index)  # dense grid incl. empty buckets
    for c in ["TOA", "GHI", "BNI", "Cloud coverage"]:
        np.testing.assert_allclose(
            got[c].to_numpy(), exp[c].to_numpy(), rtol=1e-9, equal_nan=True
        )


def _write_locations(tmp_path):
    loc = tmp_path / "asrs_location.csv"
    loc.write_text(
        "no,station,latitude,longitude,elevation,timezone\n"
        "1,Padang_Pariaman,-0.54565,100.29851,128,UTC+7\n"
        "2,Makassar,-5.061,119.443,5,UTC+8\n"
        "3,Sleman,-7.7,-110.35362,230,UTC+7\n"  # bad longitude + excluded key
    )
    return loc


def _write_processed(tmp_path, station, seed, minutes=60):
    rng = np.random.RandomState(seed)
    t = pd.date_range("2024-01-01", periods=minutes, freq="10min")
    pdf = pd.DataFrame({"time": t})
    for c in ["TOA", "Clear sky GHI", "Clear sky BHI", "Clear sky DHI",
              "Clear sky BNI", "GHI", "BHI", "DHI", "BNI", "Reliability",
              "Cloud coverage"]:
        pdf[c] = rng.uniform(0, 1.0, minutes).round(4)
    out = tmp_path / f"processed_10min_{station}_observed_cloud.csv"
    pdf.to_csv(out, index=False)
    return pdf


def test_compile_pipeline(spark, tmp_path):
    loc = _write_locations(tmp_path)
    exp_pp = _write_processed(tmp_path, "Padang_Pariaman", 1)
    _write_processed(tmp_path, "Makassar", 2)
    _write_processed(tmp_path, "Sleman", 3)       # excluded (P6)
    _write_processed(tmp_path, "Unknown_Stn", 4)  # not in dim → dropped (P7)

    out = compile_solar(
        spark, str(tmp_path / "processed_10min_*_observed_cloud.csv"), str(loc)
    )
    pdf = out.toPandas()
    assert set(pdf["station"]) == {"Padang_Pariaman", "Makassar"}
    assert len(pdf) == 120
    pp = pdf[pdf.station == "Padang_Pariaman"].sort_values("time_utc")
    # local time = utc + 7h (F4/F5)
    assert ((pp["time_local"] - pp["time_utc"]) == pd.Timedelta(hours=7)).all()
    np.testing.assert_allclose(pp["GHI"].to_numpy(), exp_pp["GHI"].to_numpy())
    np.testing.assert_allclose(pp["DNI"].to_numpy(), exp_pp["BNI"].to_numpy())
    assert (pp["latitude"] == -0.54565).all()


def _ground_cams_fixtures(seed=5, n=500):
    rng = np.random.RandomState(seed)
    t = pd.date_range("2024-01-01", periods=n, freq="10min")
    ground = pd.DataFrame(
        {
            "Datetime (UTC)": t.astype(str),
            "station": "St_A",
            "GHI": rng.uniform(0, 900, n),
            "DHI": rng.uniform(0, 400, n),
            "DNI": rng.uniform(0, 800, n),
            "flag_ghi": (rng.uniform(size=n) < 0.1).astype(int),
            "flag_dhi": (rng.uniform(size=n) < 0.1).astype(int),
        }
    )
    ground.loc[rng.choice(n, 5, replace=False), "DHI"] = 0.0  # ratio guard
    cams = pd.DataFrame(
        {
            "time": t.astype(str),
            "station": "St_A",
            "GHI": rng.uniform(0, 15, n),
            "DHI": rng.uniform(0, 7, n),
            "BNI": rng.uniform(0, 13, n),
            "Cloud coverage": rng.uniform(0, 100, n),
        }
    )
    return ground, cams


def test_compare_pipeline_matches_numpy(spark):
    ground, cams = _ground_cams_fixtures()
    merged, stats = run_compare(
        spark.createDataFrame(ground), spark.createDataFrame(cams)
    )
    mpd = merged.toPandas()

    # pandas oracle: QC filter, ×60, inner join on timestamp
    g = ground[(ground.flag_ghi + ground.flag_dhi) == 0].copy()
    g["timestamp"] = pd.to_datetime(g["Datetime (UTC)"])
    c = cams.copy()
    c["timestamp"] = pd.to_datetime(c["time"])
    for comp, src in [("GHI", "GHI"), ("DHI", "DHI"), ("DNI", "BNI")]:
        c[f"{comp}_cams"] = c[src] * 60.0
    exp = g.merge(c, on=["timestamp", "station"], how="inner")
    assert len(mpd) == len(exp)

    got_ghi = mpd.sort_values("timestamp")
    exp = exp.sort_values("timestamp")
    np.testing.assert_allclose(
        got_ghi["GHI_bias"].to_numpy(),
        (exp["GHI_cams"] - exp["GHI_x"]).to_numpy(),
        rtol=1e-12,
    )
    # zero DHI → null ratio
    assert got_ghi.loc[got_ghi["DHI_ground"] == 0, "GHI_DHI_ratio"].isna().all()

    by_key = {(s["station"], s["component"]): s for s in stats}
    for comp, src in [("GHI", "GHI_x"), ("DHI", "DHI_x"), ("DNI", "DNI")]:
        x, y = exp[src].to_numpy(), exp[f"{comp}_cams"].to_numpy()
        slope, intercept = np.polyfit(x, y, 1)
        r2 = np.corrcoef(x, y)[0, 1] ** 2
        s = by_key[("St_A", comp)]
        assert s["slope"] == pytest.approx(slope, rel=1e-9)
        assert s["intercept"] == pytest.approx(intercept, rel=1e-9)
        assert s["r2"] == pytest.approx(r2, rel=1e-9)
        assert s["n"] == len(exp)
        assert s["stderr"] is not None and s["p_value"] is not None


def test_processed_csv_sink_roundtrip(spark, tmp_path):
    # K1: single-file CSV with time as first column, re-readable with the
    # compile pipeline's declared schema.
    from wetsa_cams_solrad_timeseries_spark.pipelines.ingest import write_processed_csv

    p = make_raw_expert_csv(tmp_path / "raw_1min_X_observed_cloud.csv", minutes=120)
    agg = spark.createDataFrame(resample_file(str(p)))
    out = tmp_path / "csv_out"
    write_processed_csv(agg, str(out))
    parts = list(out.glob("part-*.csv"))
    assert len(parts) == 1  # coalesce(1) → single reference-shaped file
    back = pd.read_csv(parts[0])
    assert back.columns[0] == "time"
    assert len(back) == agg.count()
    exp = agg.toPandas()
    np.testing.assert_allclose(
        back["GHI"].to_numpy(), exp["GHI"].to_numpy(), rtol=1e-9, equal_nan=True
    )


def test_distributed_fetch_error_isolation(spark, tmp_path):
    loc_pdf = pd.DataFrame(
        {
            "station": ["A", "B_fails", "C"],
            "latitude": [1.0, 2.0, 3.0],
            "longitude": [4.0, 5.0, 6.0],
            "elevation": [10.0, 20.0, 30.0],
        }
    )
    tasks = fetch_tasks(spark.createDataFrame(loc_pdf))
    assert tasks.count() == 6  # 3 stations × 2 sky types (O1)
    out_dir = str(tmp_path)

    def fake_fetch(task: dict) -> str:
        if "fails" in task["station"]:
            raise RuntimeError("simulated CDS timeout")
        path = f"{out_dir}/raw_1min_{task['station']}_{task['sky_type']}.csv"
        with open(path, "w") as fh:
            fh.write("# h\n# Observation period;GHI\n2024-01-01T00:00:00.0/2024-01-01T00:01:00.0;1.0\n")
        return path

    res = distributed_fetch(tasks, fake_fetch).toPandas()
    assert len(res) == 6
    assert res[res.station == "B_fails"]["ok"].eq(False).all()  # O2 isolation
    assert res[res.station != "B_fails"]["ok"].all()
    assert res[res.ok]["output_path"].notna().all()


def test_default_cds_fetch_builds_reference_request(tmp_path):
    """The default cdsapi-backed fetch_fn issues the reference's retrieve
    call (get-cams-solrad-ts.py:127,148-159): dataset name, request dict
    field-for-field, and the raw_1min_{station}_{sky} output naming —
    asserted against a mocked client, no network."""
    from wetsa_cams_solrad_timeseries_spark.pipelines.ingest import (
        CAMS_DATASET,
        cams_request,
        make_cds_fetch_fn,
    )

    calls = []

    class FakeClient:
        def retrieve(self, dataset, request, target):
            calls.append((dataset, request, target))

    fetch = make_cds_fetch_fn(
        str(tmp_path),
        date_range="2024-01-01/2024-03-31",
        client_factory=FakeClient,
    )
    task = {
        "station": "Mount Top/1",  # sanitizer must neutralize the slash
        "sky_type": "observed_cloud",
        "latitude": -6.9,
        "longitude": 107.6,
        "elevation": 791,
    }
    path = fetch(task)

    assert len(calls) == 1
    dataset, request, target = calls[0]
    assert dataset == CAMS_DATASET == "cams-solar-radiation-timeseries"
    assert request == {
        "sky_type": "observed_cloud",
        "location": {"latitude": -6.9, "longitude": 107.6},
        "altitude": "791",  # reference passes altitude as str(elevation)
        "date": "2024-01-01/2024-03-31",
        "time_step": "1minute",
        "time_reference": "universal_time",
        "format": "csv_expert",
    }
    assert target == path
    assert path.endswith("raw_1min_Mount_Top_1_observed_cloud.csv")
    # Builder is reusable standalone (per-task request parity).
    assert cams_request(task)["date"] == "2024-01-01/2024-12-31"


def test_cf_metadata_on_schema(spark, tmp_path):
    from wetsa_cams_solrad_timeseries_spark.sinks.netcdf import (
        CF_VAR_ATTRS,
        attach_cf_metadata,
    )

    loc = _write_locations(tmp_path)
    _write_processed(tmp_path, "Makassar", 2, minutes=10)
    compiled = attach_cf_metadata(
        compile_solar(
            spark, str(tmp_path / "processed_10min_*_observed_cloud.csv"), str(loc)
        )
    )
    meta = {f.name: f.metadata for f in compiled.schema.fields}
    assert meta["GHI"]["units"] == CF_VAR_ATTRS["GHI"]["units"]
    assert meta["station"]["cf_role"] == "timeseries_id"
    # metadata survives a parquet round-trip (R2 in the Spark-native home)
    p = str(tmp_path / "compiled_meta.parquet")
    compiled.write.mode("overwrite").parquet(p)
    back = {f.name: f.metadata for f in spark.read.parquet(p).schema.fields}
    assert back["latitude"]["standard_name"] == "latitude"


def test_asof_join_tolerance(spark):
    from wetsa_cams_solrad_timeseries_spark.operators.joins import asof_join

    left = pd.DataFrame(
        {
            "g": ["a", "a", "a"],
            "ts": pd.to_datetime(
                ["2024-01-10", "2024-03-01", "2024-06-01"]
            ),
            "eid": [1, 2, 3],
        }
    )
    right = pd.DataFrame(
        {
            "g": ["a"],
            "rts": pd.to_datetime(["2024-01-05"]),
            "rv": [99],
        }
    )
    got = {
        r["eid"]: r["rv"]
        for r in asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right),
            left_ts="ts", right_ts="rts", by=["g"], right_cols=["rv", "rts"],
            tolerance="30 days",
        ).collect()
    }
    exp = pd.merge_asof(
        left.sort_values("ts"),
        right.rename(columns={"rts": "ts"}).sort_values("ts"),
        on="ts", by="g", tolerance=pd.Timedelta("30 days"),
    ).set_index("eid")["rv"]
    assert got[1] == 99 and exp.loc[1] == 99          # within tolerance
    assert got[2] is None and pd.isna(exp.loc[2])     # match too old → nulled
    assert got[3] is None and pd.isna(exp.loc[3])


def test_run_ingest_end_to_end(spark, tmp_path):
    from wetsa_cams_solrad_timeseries_spark.pipelines.ingest import run_ingest

    loc = _write_locations(tmp_path)
    out = tmp_path / "processed"
    out.mkdir()

    # Self-contained closure: executed on executors, so it must not
    # reference this test module (unimportable there).
    out_base = str(tmp_path)
    cols = list(EXPERT_COLS)

    def fake_fetch(task: dict) -> str:
        import numpy as _np
        import pandas as _pd

        if task["station"] == "Sleman":
            raise RuntimeError("simulated failure")
        p = f"{out_base}/raw_1min_{task['station']}_{task['sky_type']}.csv"
        rng = _np.random.RandomState(abs(hash(task["station"])) % 97)
        lines = ["# fixture", "# " + ";".join(cols)]
        t0 = _pd.Timestamp("2024-01-01")
        for m in range(60):
            s = t0 + _pd.Timedelta(minutes=m)
            e = s + _pd.Timedelta(minutes=1)
            vals = [f"{v:.4f}" for v in rng.uniform(0, 1.2, len(cols) - 1)]
            lines.append(";".join([f"{s.isoformat()}.0/{e.isoformat()}.0"] + vals))
        with open(p, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        return p

    res = run_ingest(
        spark, str(loc), fake_fetch, str(out), sky_types=("observed_cloud",)
    ).toPandas()
    assert len(res) == 3 and res["ok"].sum() == 2  # Sleman isolated (O2)
    produced = sorted(p.name for p in out.glob("processed_10min_*.csv"))
    assert produced == [
        "processed_10min_Makassar_observed_cloud.csv",
        "processed_10min_Padang_Pariaman_observed_cloud.csv",
    ]
    pdf = pd.read_csv(out / "processed_10min_Makassar_observed_cloud.csv")
    assert pdf.columns[0] == "time" and len(pdf) == 6  # 60 min → 6 buckets


def _ingest_files(spark, tmp_path, raw_by_task, sky_types=("observed_cloud",)):
    """run_ingest over pre-written raw files: ``raw_by_task`` maps
    "station/sky_type" to the path the fetch returns. Returns the task
    rows (pandas) and the processed-CSV directory."""
    from wetsa_cams_solrad_timeseries_spark.pipelines.ingest import run_ingest

    stations = list(dict.fromkeys(k.split("/")[0] for k in raw_by_task))
    loc = tmp_path / "locations.csv"
    loc.write_text(
        "no,station,latitude,longitude,elevation,timezone\n"
        + "".join(f"{i},{s},-1.0,100.0,10,UTC+7\n" for i, s in enumerate(stations))
    )
    out = tmp_path / "processed"
    out.mkdir()
    paths = {k: str(p) for k, p in raw_by_task.items()}

    def fetch(task: dict) -> str:  # closes over plain strings only
        return paths[f"{task['station']}/{task['sky_type']}"]

    res = run_ingest(spark, str(loc), fetch, str(out), sky_types=sky_types)
    return res.toPandas().set_index("station"), out


def _assert_matches_resample(csv_path, raw_path):
    got = pd.read_csv(csv_path, parse_dates=["time"])
    exp = (
        read_expert_pandas(raw_path)
        .set_index("time")
        .select_dtypes(include="number")
        .resample("10min")
        .mean()
    )
    assert list(got.columns) == ["time", *exp.columns]
    assert list(got["time"]) == list(exp.index)  # own grid, empty buckets kept
    for c in exp.columns:
        np.testing.assert_allclose(
            got[c].to_numpy(), exp[c].to_numpy(), rtol=1e-9, equal_nan=True
        )


def test_run_ingest_batched_edge_cases(spark, tmp_path):
    """Files fetched in one job are resampled in their own tasks: each good
    file keeps its own time range, gaps and grid (Spaced overlaps Early's
    gap, so a borrowed bucket would show as a value where pandas has NaN),
    a header-less file fails only its own row, and a file with no data
    rows still gets a header-only CSV with the full column list."""
    spaced_dir = tmp_path / "raw dir with space"
    spaced_dir.mkdir()
    good = {
        "Early": make_raw_expert_csv(
            tmp_path / "raw_early.csv", minutes=95, gap=(20, 47), seed=1
        ),
        "Late": make_raw_expert_csv(
            tmp_path / "raw_late.csv", minutes=130, gap=(60, 61), seed=2,
            start="2024-03-05 07:13:00",
        ),
        "Spaced": make_raw_expert_csv(
            spaced_dir / "raw_spaced.csv", minutes=70, gap=(0, 0), seed=3,
            start="2024-01-01 00:30:00",
        ),
    }
    headerless = tmp_path / "raw_headerless.csv"
    headerless.write_text(
        "2024-01-01T00:00:00.0/2024-01-01T00:01:00.0;1.0;2.0\n"
        "2024-01-01T00:01:00.0/2024-01-01T00:02:00.0;1.5;2.5\n"
    )
    empty = make_raw_expert_csv(tmp_path / "raw_empty.csv", minutes=0)
    files = {**good, "NoHeader": headerless, "Empty": empty}

    res, out = _ingest_files(
        spark, tmp_path, {f"{s}/observed_cloud": p for s, p in files.items()}
    )
    assert list(res.index[~res["ok"]]) == ["NoHeader"]
    assert res.loc["NoHeader", "error"].startswith("aggregate: ")
    assert not (out / "processed_10min_NoHeader_observed_cloud.csv").exists()
    for station, raw in good.items():
        _assert_matches_resample(
            out / f"processed_10min_{station}_observed_cloud.csv", raw
        )
    header_only = pd.read_csv(out / "processed_10min_Empty_observed_cloud.csv")
    assert list(header_only.columns) == ["time", *EXPERT_COLS[1:]]
    assert len(header_only) == 0


def test_run_ingest_isolates_an_unreadable_file(spark, tmp_path):
    """A file whose header peeks fine but whose rows cannot be read (plain
    text under a gzip name) fails only its own task row; the other tasks
    of the same job still write their CSVs."""
    files = {
        "A": make_raw_expert_csv(tmp_path / "raw_a.csv", minutes=60, seed=4),
        "Bad": make_raw_expert_csv(tmp_path / "raw_bad.csv.gz", minutes=60, seed=5),
        "B": make_raw_expert_csv(tmp_path / "raw_b.csv", minutes=80, seed=6),
    }
    res, out = _ingest_files(
        spark, tmp_path, {f"{s}/observed_cloud": p for s, p in files.items()}
    )
    assert list(res.index[~res["ok"]]) == ["Bad"]
    assert res.loc["Bad", "error"].startswith("aggregate: ")
    for station in ("A", "B"):
        _assert_matches_resample(
            out / f"processed_10min_{station}_observed_cloud.csv", files[station]
        )


def test_processed_csv_equals_pandas_resample_exactly(spark, tmp_path):
    """The processed CSV run_ingest writes is exactly the reference's
    ``resample('10min').mean()``: a non-numeric cell is NaN (not a parse
    failure), and a row whose ``Observation period`` does not parse is
    dropped, not bucketed."""
    raw = make_raw_expert_csv(tmp_path / "raw_odd.csv", minutes=45, seed=8)
    lines = raw.read_text().splitlines()
    first = lines[3].split(";")
    first[EXPERT_COLS.index("GHI")] = "n/a-sensor"
    lines[3] = ";".join(first)
    lines.insert(20, ";".join(["not-a-time/also-not"] + ["999.0"] * 11))
    raw.write_text("\n".join(lines) + "\n")

    res, out = _ingest_files(spark, tmp_path, {"Odd/observed_cloud": raw})
    assert res.loc["Odd", "ok"]
    got = pd.read_csv(out / "processed_10min_Odd_observed_cloud.csv",
                      parse_dates=["time"], float_precision="round_trip")

    pdf = pd.read_csv(raw, comment="#", sep=";", header=None, names=EXPERT_COLS)
    start = pdf.pop("Observation period").str.split("/").str[0]
    time = pd.to_datetime(start, errors="coerce").rename("time")
    exp = (
        pdf.apply(pd.to_numeric, errors="coerce")
        .set_index(time)[time.notna().to_numpy()]
        .resample("10min").mean().reset_index()
    )
    assert exp["GHI"].notna().all() and len(exp) == 5
    pd.testing.assert_frame_equal(got, exp, check_exact=True)


# run_ingest's Spark jobs under count_jobs, the locations read and the
# task-table read-back included: the highest of three runs (5, 5, 5)
# with EP1 as one map-only job.
_INGEST_MAX_JOBS = 5


def test_run_ingest_jobs_do_not_grow_with_files(spark, tmp_path, count_jobs):
    """EP1 is one map-only job over the task table: 6 files submit as many
    Spark jobs as 2 (a per-file job chain would add jobs per file), and no
    more than the pinned count."""
    def jobs_for(n_stations, sky_types):
        root = tmp_path / f"n{n_stations * len(sky_types)}"
        root.mkdir()
        raw = {
            f"S{i}/{sky}": make_raw_expert_csv(
                root / f"raw_{i}_{sky}.csv", minutes=60 + 10 * i, seed=i
            )
            for i in range(n_stations)
            for sky in sky_types
        }
        jobs = count_jobs(lambda: _ingest_files(spark, root, raw, sky_types))
        assert len(list((root / "processed").glob("*.csv"))) == len(raw)
        return jobs

    two = jobs_for(2, ("observed_cloud",))
    assert two == jobs_for(3, ("clear", "observed_cloud"))
    assert two <= _INGEST_MAX_JOBS


def test_dense_partitioned_export_roundtrip(spark, tmp_path):
    """The scalable dense-export twin of K2: station-chunked parquet +
    CF sidecars, written distributed; partition pruning on read-back."""
    from wetsa_cams_solrad_timeseries_spark.sinks.dense_export import (
        read_dense_partitioned,
        write_dense_partitioned,
    )

    loc = _write_locations(tmp_path)
    _write_processed(tmp_path, "Padang_Pariaman", 1, minutes=30)
    _write_processed(tmp_path, "Makassar", 2, minutes=20)
    compiled = compile_solar(
        spark, str(tmp_path / "processed_10min_*_observed_cloud.csv"), str(loc)
    )
    out = str(tmp_path / "dense")
    manifest = write_dense_partitioned(compiled, out)
    stations = [c["station"] for c in manifest["chunks"]]
    assert stations == ["Makassar", "Padang_Pariaman"]
    assert {c["station"]: c["n_rows"] for c in manifest["chunks"]} == {
        "Makassar": 20,
        "Padang_Pariaman": 30,
    }
    # one directory per chunk-axis value (the Zarr-chunk analogue)
    import pathlib

    dirs = {p.name for p in pathlib.Path(out).iterdir() if p.is_dir()}
    assert dirs == {"station=Makassar", "station=Padang_Pariaman"}

    df, manifest2, attrs = read_dense_partitioned(spark, out, stations=["Makassar"])
    assert manifest2 == manifest
    assert attrs["global"]["Conventions"] == "CF-1.8"
    assert attrs["variables"]["GHI"]["units"] == "Wh m-2"
    got = df.select("station").distinct().collect()
    assert [r["station"] for r in got] == ["Makassar"]
    # pruning reaches the scan: only the selected partition is read
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Makassar" in plan
    # values survive the round trip
    back = df.count()
    assert back == 20


def test_netcdf_export_dense_grid(spark, tmp_path):
    loc = _write_locations(tmp_path)
    _write_processed(tmp_path, "Padang_Pariaman", 1, minutes=30)
    _write_processed(tmp_path, "Makassar", 2, minutes=20)  # shorter → NaN fill
    compiled = compile_solar(
        spark, str(tmp_path / "processed_10min_*_observed_cloud.csv"), str(loc)
    )
    wide, coords = to_dense_pandas(compiled)
    assert list(coords.index) == ["Makassar", "Padang_Pariaman"]
    assert wide.shape == (30, 6)  # 3 vars × 2 stations, dense grid (R1)
    assert wide["GHI"]["Makassar"].isna().sum() == 10  # missing combos → NaN

    # The serialization hop always executes now: NETCDF4 via xarray when
    # present, else the pure-Python classic writer (sinks/netcdf3.py).
    summary = write_netcdf(compiled, str(tmp_path / "out.nc"))
    assert summary["n_stations"] == 2
    assert (tmp_path / "out.nc").exists()

    if summary["format"] == "NETCDF3_CLASSIC":
        import math

        from wetsa_cams_solrad_timeseries_spark.sinks.netcdf3 import read_netcdf3

        back = read_netcdf3(str(tmp_path / "out.nc"))
        assert back["attrs"]["Conventions"] == "CF-1.8"
        assert back["dims"]["station"] == 2 and back["dims"]["time"] == 30
        assert back["vars"]["time"]["attrs"]["calendar"] == "proleptic_gregorian"
        names = back["vars"]["station"]["values"]
        strlen = back["dims"]["name_strlen"]
        decoded = [
            names[i * strlen : (i + 1) * strlen].rstrip(b"\x00").decode()
            for i in range(2)
        ]
        assert decoded == ["Makassar", "Padang_Pariaman"]
        # Value round-trip: the (time, station) grid equals the pandas pivot,
        # NaN fill included.
        ghi = back["vars"]["GHI"]["values"]
        exp = wide["GHI"].reindex(columns=decoded).to_numpy().ravel()
        assert len(ghi) == len(exp) == 60
        for got, want in zip(ghi, exp):
            assert (math.isnan(got) and math.isnan(want)) or got == want


def test_python_datasource_expert_csv(spark, tmp_path):
    """The Python DataSource (Spark 4 extension point) yields the same
    frame as the native-scan production reader, file-parallel (one
    InputPartition per matched file)."""
    from wetsa_cams_solrad_timeseries_spark.sources.pyds import (
        register_expert_csv_source,
    )

    p1 = make_raw_expert_csv(tmp_path / "raw_1min_StA_observed_cloud.csv")
    make_raw_expert_csv(tmp_path / "raw_1min_StB_observed_cloud.csv", seed=1)
    glob_path = str(tmp_path / "raw_1min_*_observed_cloud.csv")

    register_expert_csv_source(spark)
    via_ds = (
        spark.read.format("expert_csv").option("path", glob_path).load()
    )
    via_native = read_expert_csv(spark, glob_path)
    assert via_ds.schema == via_native.schema
    assert via_ds.rdd.getNumPartitions() == 2  # one per file
    a = sorted(map(tuple, via_ds.collect()))
    b = sorted(map(tuple, via_native.collect()))
    assert a == b

    # single file, no glob
    one = (
        spark.read.format("expert_csv").option("path", str(p1)).load()
    )
    assert one.count() == read_expert_csv(spark, str(p1)).count()


def test_orc_roundtrip_partitioned(spark, tmp_path):
    """ORC sink/source round-trip with partition pruning: the archive
    path (K3) is format-agnostic — the same partitioned write works for
    parquet (primary) and ORC (interchange), and a partition-key filter
    prunes the ORC scan exactly like parquet."""
    from pyspark.sql import functions as F

    from wetsa_cams_solrad_timeseries_spark.catalog import table

    ev = table(spark, "/root/testdata/sf0.001", "events").withColumn(
        "day", F.to_date("ts")
    )
    out = str(tmp_path / "events_orc")
    ev.write.partitionBy("day").mode("overwrite").orc(out)
    back = spark.read.orc(out)
    assert back.count() == ev.count()
    one_day = back.select("day").distinct().limit(1).collect()[0][0]
    pruned = back.where(F.col("day") == F.lit(one_day))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "isnotnull(day" in plan
    assert (
        pruned.count()
        == ev.where(F.col("day") == F.lit(one_day)).count()
    )
