"""CLI integration (SURVEY §3.1 / §5 layer 4)."""

from __future__ import annotations

from res2df_spark import cli

DECK = """
START
  1 JAN 2020 /
WELSPECS
  'OP1' 'G1' 3 4 1000.0 'OIL' /
/
COMPDAT
  'OP1' 2* 1 2 'OPEN' /
/
SWOF
  0.1 0.0 1.0 0.0
  0.9 1.0 0.0 0.0
/
"""


def test_cli_compdat_stdout(spark, tmp_path, capsys):
    deck = tmp_path / "T.DATA"
    deck.write_text(DECK)
    assert cli.main(["compdat", str(deck), "-o", "-"]) == 0
    out = capsys.readouterr().out
    # reference shape (round 6): K1 == K2, 'OP/SH' — same contract as
    # ResdataCase.compdat() and the reference's res2csv
    assert ("WELL,I,J,DATE,SATN,TRAN,WBDIA,KH,SKIN,DFACT,DIR,PEQVR,K1,K2,OP/SH") in out
    # full reference CSV item set: defaulted items carry their opm
    # defaults (SATN 0, KH -1, SKIN 0, DIR Z) or stay empty
    assert "OP1,3,4,2020-01-01,0,,,-1.0,0.0,,Z,,1,1,OPEN" in out


def test_cli_satfunc(spark, tmp_path, capsys):
    deck = tmp_path / "T.DATA"
    deck.write_text(DECK)
    assert cli.main(["satfunc", str(deck), "-o", "-"]) == 0
    out = capsys.readouterr().out
    assert "SWOF" in out and "SATNUM" in out


def test_cli_no_matching_keywords(spark, tmp_path, capsys):
    deck = tmp_path / "T.DATA"
    deck.write_text("START\n 1 JAN 2020 /\n")
    # table families return None when the deck has no matching keywords
    assert cli.main(["pvt", str(deck), "-o", "-"]) == 1


import os

import pytest

_EIGHT = "/root/reference/tests/data/eightcells"


@pytest.mark.skipif(not os.path.isdir(_EIGHT), reason="fixtures not present")
def test_cli_summary_binary(capsys):
    from res2df_spark.cli import main

    assert main(["summary", f"{_EIGHT}/EIGHTCELLS", "-o", "-"]) == 0
    out = capsys.readouterr().out.splitlines()
    # the reference res2csv always emits the WIDE shape (DATE + one
    # column per vector), flags or not
    header = out[0].split(",")
    assert header[0] == "DATE"
    assert any("FOPT" in h for h in header)
    assert len(out) > 1


@pytest.mark.skipif(not os.path.isdir(_EIGHT), reason="fixtures not present")
def test_cli_grid_binary(capsys):
    from res2df_spark.cli import main

    assert main(["grid", f"{_EIGHT}/EIGHTCELLS.DATA", "-o", "-"]) == 0
    out = capsys.readouterr().out.splitlines()
    header = out[0].split(",")
    assert {"I", "J", "K", "ACTIVE_INDEX"} <= set(header)
    assert len(out) == 9  # 8 cells + header


_REEK = "/root/reference/tests/data/reek/eclipse/model"


@pytest.mark.skipif(not os.path.isdir(_REEK), reason="fixtures not present")
def test_cli_nnc_binary(capsys):
    from res2df_spark.cli import main

    assert main(["nnc", f"{_REEK}/2_R001_REEK-0", "-o", "-"]) == 0
    out = capsys.readouterr().out.splitlines()
    assert out[0].split(",")[:6] == ["I1", "J1", "K1", "I2", "J2", "K2"]
    assert len(out) == 3287  # 3286 NNCs + header


@pytest.mark.skipif(not os.path.isdir(_EIGHT), reason="fixtures not present")
def test_cli_trans_binary(capsys):
    from res2df_spark.cli import main

    assert main(["trans", f"{_EIGHT}/EIGHTCELLS", "-o", "-"]) == 0
    out = capsys.readouterr().out.splitlines()
    # 2x2x2 grid: 4 face-pairs per direction
    assert len(out) == 13
    assert "DIR" in out[0].split(",") and "TRAN" in out[0].split(",")


@pytest.mark.skipif(not os.path.isdir(_EIGHT), reason="fixtures not present")
def test_cli_pillars_binary(capsys):
    from res2df_spark.cli import main

    assert main(["pillars", f"{_EIGHT}/EIGHTCELLS", "-o", "-"]) == 0
    out = capsys.readouterr().out.splitlines()
    assert len(out) == 5  # 2x2 pillars + header
    assert "PILLAR" in out[0].split(",")


@pytest.mark.skipif(not os.path.isdir(_EIGHT), reason="fixtures not present")
def test_cli_wellconnstatus_binary(capsys):
    from res2df_spark.cli import main

    assert main(["wellconnstatus", f"{_EIGHT}/EIGHTCELLS", "-o", "-"]) == 0
    out = capsys.readouterr().out.splitlines()
    assert out[0].split(",")[:4] == ["WELL", "I", "J", "K"]
    assert any("OP1" in line for line in out[1:])


@pytest.mark.skipif(not os.path.isdir(_REEK), reason="fixtures not present")
def test_cli_fipreports_binary(capsys):
    from res2df_spark.cli import main

    assert main(["fipreports", f"{_REEK}/2_R001_REEK-0.PRT", "-o", "-"]) == 0
    out = capsys.readouterr().out.splitlines()
    assert len(out) > 1


@pytest.mark.skipif(not os.path.isdir(_EIGHT), reason="fixtures not present")
def test_cli_summary_resampled_wide(capsys):
    from res2df_spark.cli import main

    assert main([
        "summary", f"{_EIGHT}/EIGHTCELLS",
        "--time_index", "monthly", "--column_keys", "FOPT,FOPR", "-o", "-",
    ]) == 0
    out = capsys.readouterr().out.splitlines()
    header = out[0].split(",")
    assert header[0] == "DATE" and set(header[1:]) == {"FOPT", "FOPR"}
    assert len(out) > 2  # one row per monthly spine point


# ---------------------------------------------------------------------------
# csv2res reverse CLI (reference csv2res.py:43-88): CSV → include text →
# CSV must be a fixed point.
# ---------------------------------------------------------------------------


def test_csv2res_satfunc_roundtrip(spark, tmp_path, capsys):
    deck = tmp_path / "satfunc.inc"
    deck.write_text(
        "SWOF\n  0.1 0.0 1.0 0.0\n  0.9 1.0 0.0 0.0\n/\n"
        "  0.2 0.0 1.0 0.0\n  0.8 1.0 0.0 0.0\n/\n"
    )
    csv1 = tmp_path / "satfunc.csv"
    assert cli.main(["satfunc", str(deck), "-o", str(csv1)]) == 0
    inc = tmp_path / "again.inc"
    assert cli.csv2res_main(["satfunc", str(csv1), "-o", str(inc)]) == 0
    csv2 = tmp_path / "satfunc2.csv"
    assert cli.main(["satfunc", str(inc), "-o", str(csv2)]) == 0
    import pandas as pd

    a = pd.read_csv(csv1).sort_values(["KEYWORD", "SATNUM", "ROW_IDX"]).reset_index(drop=True)
    b = pd.read_csv(csv2).sort_values(["KEYWORD", "SATNUM", "ROW_IDX"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_csv2res_equil_roundtrip(spark, tmp_path, capsys):
    deck = tmp_path / "solution.inc"
    deck.write_text(
        "EQUIL\n  2000 200 2200 /\n\nRSVD\n  1500 184.0\n  4000 184.0\n/\n"
    )
    csv1 = tmp_path / "equil.csv"
    assert cli.main(["equil", str(deck), "-o", str(csv1)]) == 0
    inc = tmp_path / "solution2.inc"
    assert cli.csv2res_main(["equil", str(csv1), "-o", str(inc)]) == 0
    csv2 = tmp_path / "equil2.csv"
    assert cli.main(["equil", str(inc), "-o", str(csv2)]) == 0
    import pandas as pd

    a = pd.read_csv(csv1)
    b = pd.read_csv(csv2)
    assert sorted(a.columns) == sorted(b.columns)
    key = ["KEYWORD", "EQLNUM"]
    pd.testing.assert_frame_equal(
        a.sort_values(key + ["Z"]).reset_index(drop=True)[sorted(a.columns)],
        b.sort_values(key + ["Z"]).reset_index(drop=True)[sorted(a.columns)],
        check_dtype=False,
    )


def test_csv2res_vfpinj_roundtrip(spark, tmp_path, capsys):
    deck = tmp_path / "vfp.inc"
    deck.write_text(
        "VFPINJ\n  1 3000.0 'WAT' 'THP' 'METRIC' 'BHP' /\n  100 200 /\n  10 20 /\n"
        "  1 2000 2100 /\n  2 2200 2300 /\n"
    )
    csv1 = tmp_path / "vfp.csv"
    assert cli.main(["vfpinj", str(deck), "-o", str(csv1)]) == 0
    inc = tmp_path / "vfp2.inc"
    assert cli.csv2res_main(["vfp", str(csv1), "-o", str(inc)]) == 0
    csv2 = tmp_path / "vfp3.csv"
    assert cli.main(["vfpinj", str(inc), "-o", str(csv2)]) == 0
    import pandas as pd

    key = ["TABLE", "THP", "RATE"]
    a = pd.read_csv(csv1).sort_values(key).reset_index(drop=True)
    b = pd.read_csv(csv2).sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_csv2res_summary_writes_binaries(spark, tmp_path):
    import pandas as pd

    csv = tmp_path / "summary.csv"
    pd.DataFrame(
        {
            "DATE": ["2020-01-01", "2020-02-01", "2020-03-01"],
            "FOPT": [0.0, 100.0, 250.0],
            "WOPR:OP1": [10.0, 12.0, 9.0],
        }
    ).to_csv(csv, index=False)
    smspec = tmp_path / "CASE.SMSPEC"
    assert cli.csv2res_main(["summary", str(csv), "-o", str(smspec)]) == 0
    assert smspec.exists() and (tmp_path / "CASE.UNSMRY").exists()
    from res2df_spark.sources.eclbin import summary_long

    back = summary_long(spark, str(smspec))
    got = {
        (r["VECTOR"], str(r["DATE"])[:10]): r["VALUE"] for r in back.collect()
    }
    assert got[("FOPT", "2020-02-01")] == 100.0
    assert got[("WOPR:OP1", "2020-03-01")] == 9.0


def test_cli_wellcompletiondata(spark, tmp_path, capsys):
    deck = tmp_path / "wcd.DATA"
    deck.write_text(
        """
START
  1 JAN 2020 /
WELSPECS
  'OP1' 'G1' 1 1 1000.0 'OIL' /
/
COMPDAT
  'OP1' 1 1 1 2 'OPEN' 1* 1* 1* 100.0 /
  'OP1' 1 1 3 3 'SHUT' 1* 1* 1* 50.0 /
/
"""
    )
    lyr = tmp_path / "zones.lyr"
    lyr.write_text("'UPPER' 1-2\n'LOWER' 3\n")
    assert (
        cli.main(
            ["wellcompletiondata", str(deck), "--zonemap", str(lyr), "-o", "-"]
        )
        == 0
    )
    out = capsys.readouterr().out
    assert "UPPER" in out and "LOWER" in out


def test_cli_summary_date_crop_and_arrow(gencase, tmp_path):
    import pandas as pd

    root, model = gencase
    assert cli.main([
        "summary", root, "-o", str(tmp_path / "s.csv"),
        "--start_date", "2000-02-01",
    ]) == 0
    df = pd.read_csv(tmp_path / "s.csv")
    assert (pd.to_datetime(df["DATE"]) >= "2000-02-01").all()
    # the generated report steps are month starts from 2000-01-01: the
    # crop drops exactly the first one
    assert len(df) == len(model["summary"]) - 1

    arrow_path = tmp_path / "s.feather"
    assert cli.main([
        "summary", root, "-o", str(arrow_path), "--arrow",
    ]) == 0
    import pyarrow.feather as feather

    t = feather.read_table(str(arrow_path))
    assert t.num_rows == len(model["summary"])


def test_gruptree_prettyprint_cli(spark, tmp_path, capsys):
    from res2df_spark.cli import main

    deck = tmp_path / "TREE.DATA"
    deck.write_text(
        "START\n 1 JAN 2020 /\nGRUPTREE\n 'OP' 'FIELD'/\n/\n"
    )
    assert main(["gruptree", str(deck), "--prettyprint"]) == 0
    out = capsys.readouterr().out
    assert "Date: 2020-01-01" in out
    assert "FIELD\n└── OP" in out


def test_gruptree_startdate_cli(spark, tmp_path, capsys):
    from res2df_spark.cli import main

    deck = tmp_path / "NODATE.DATA"
    deck.write_text("GRUPTREE\n 'OP' 'FIELD'/\n/\n")
    assert main(
        ["gruptree", str(deck), "--startdate", "2001-02-03", "-o", "-"]
    ) == 0
    out = capsys.readouterr().out
    assert "2001-02-03" in out


def test_curate_cli_quality_sample_stats(spark, tmp_path):
    """The curation CLI: parquet in → parquet out, stages composable by
    chaining invocations (quality --keep-only feeds sample)."""
    import duckdb

    from res2df_spark.cli import curate_main

    src = "/root/testdata/sf0.001/documents.parquet"
    kept = str(tmp_path / "kept")
    assert curate_main(
        ["quality", src, "-o", kept, "--min-tokens", "25", "--keep-only"]
    ) == 0
    n_kept = duckdb.sql(f"SELECT count(*) FROM '{kept}/*.parquet'").fetchone()[0]
    assert 0 < n_kept <= 500
    # chained stage reads the previous stage's output
    sampled = str(tmp_path / "sampled")
    assert curate_main(
        ["sample", kept, "-o", sampled, "--weight-col", "n_chars", "--k", "10"]
    ) == 0
    assert duckdb.sql(
        f"SELECT count(*) FROM '{sampled}/*.parquet'"
    ).fetchone()[0] == 10
    stats = str(tmp_path / "stats")
    assert curate_main(["stats", src, "-o", stats]) == 0
    cols = duckdb.sql(f"SELECT * FROM '{stats}/*.parquet' LIMIT 1").df().columns
    assert {"source", "n_docs", "p50_tokens"} <= set(cols)


def test_curate_cli_round5_ops(spark, tmp_path):
    """Round-5 curate subcommands: decontaminate, bm25, entropy,
    truncate-emb — parquet in → parquet out."""
    import duckdb

    from res2df_spark.cli import curate_main

    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated text with no overlap at all"),
        ],
        "doc_id long, text string",
    ).write.parquet(docs)
    bench = str(tmp_path / "bench")
    spark.createDataFrame(
        [(100, "the quick brown fox ate lunch")], "doc_id long, text string"
    ).write.parquet(bench)

    deco = str(tmp_path / "deco")
    assert curate_main(
        ["decontaminate", docs, "-o", deco, "--benchmark", bench,
         "--threshold", "0.05"]
    ) == 0
    got = dict(duckdb.sql(
        f"SELECT doc_id, is_contaminated FROM '{deco}/*.parquet'"
    ).fetchall())
    assert got == {1: True, 2: False}

    bm = str(tmp_path / "bm")
    assert curate_main(["bm25", docs, "-o", bm, "--terms", "fox,text"]) == 0
    assert duckdb.sql(
        f"SELECT count(*) FROM '{bm}/*.parquet'"
    ).fetchone()[0] == 2

    ent = str(tmp_path / "ent")
    assert curate_main(["entropy", docs, "-o", ent]) == 0
    row = duckdb.sql(
        f"SELECT n_tokens, n_types FROM '{ent}/*.parquet'"
    ).fetchone()
    assert row[0] == 17 and row[1] > 10

    emb = str(tmp_path / "emb")
    spark.createDataFrame(
        [(0, [3.0, 4.0, 9.0, 9.0])], "vec_id long, embedding array<float>"
    ).write.parquet(emb)
    tr = str(tmp_path / "tr")
    assert curate_main(
        ["truncate-emb", emb, "-o", tr, "--dims", "2", "--id-col", "vec_id"]
    ) == 0
    vals = duckdb.sql(
        f"SELECT truncated, prefix_norm FROM '{tr}/*.parquet'"
    ).fetchone()
    assert vals[1] == 5.0 and [round(x, 6) for x in vals[0]] == [0.6, 0.8]


def test_curate_cli_semantic_dedup(spark, tmp_path):
    """semantic-dedup subcommand: identical embeddings collapse to one
    keeper; --keep-only writes the surviving rows."""
    import duckdb

    from res2df_spark.cli import curate_main

    emb = str(tmp_path / "emb")
    rows = [(i, [1.0, 2.0, 3.0]) for i in range(6)]
    rows += [(10 + i, [float(10 + i), 0.0, -5.0]) for i in range(3)]
    spark.createDataFrame(
        rows, "doc_id long, embedding array<float>"
    ).write.parquet(emb)
    audit = str(tmp_path / "audit")
    assert curate_main(
        ["semantic-dedup", emb, "-o", audit, "--threshold", "0.99"]
    ) == 0
    kept = dict(duckdb.sql(
        f"SELECT doc_id, keep FROM '{audit}/*.parquet'"
    ).fetchall())
    assert kept[0] is True
    assert all(kept[i] is False for i in range(1, 6))  # dups of 0
    surv = str(tmp_path / "surv")
    assert curate_main(
        ["semantic-dedup", emb, "-o", surv, "--threshold", "0.99",
         "--keep-only"]
    ) == 0
    n = duckdb.sql(f"SELECT count(*) FROM '{surv}/*.parquet'").fetchone()[0]
    assert n == sum(1 for v in kept.values() if v)


def test_curate_cli_weights_and_segment_ops(spark, tmp_path):
    """Round-5 additions: soft-dedup / dsir / nb-score / line-dedup /
    containment subcommands, parquet in → parquet out."""
    import duckdb

    from res2df_spark.cli import curate_main

    docs = "/root/testdata/sf0.001/documents.parquet"
    n_docs = duckdb.sql(f"SELECT count(*) FROM '{docs}'").fetchone()[0]

    soft = str(tmp_path / "soft")
    assert curate_main(["soft-dedup", docs, "-o", soft]) == 0
    got = duckdb.sql(
        f"SELECT count(*), min(w_exact) > 0, max(w_soft) <= 1.0 "
        f"FROM '{soft}/*.parquet'"
    ).fetchone()
    assert got == (n_docs, True, True)

    dsir = str(tmp_path / "dsir")
    assert curate_main(
        ["dsir", docs, "-o", dsir, "--target-value", "en"]
    ) == 0
    assert duckdb.sql(
        f"SELECT count(*) FROM '{dsir}/*.parquet'"
    ).fetchone()[0] == n_docs
    # no-match target must fail loudly, not emit smoothing noise
    with pytest.raises(SystemExit, match="matches no rows"):
        curate_main(["dsir", docs, "-o", dsir, "--target-value", "klingon"])

    nb = str(tmp_path / "nb")
    assert curate_main(
        ["nb-score", docs, "-o", nb, "--pos-values", "src0,src1"]
    ) == 0
    cols = duckdb.sql(f"SELECT * FROM '{nb}/*.parquet' LIMIT 1").df().columns
    assert {"doc_id", "nb_score", "predicted_pos"} <= set(cols)
    with pytest.raises(SystemExit, match="non-empty positive AND negative"):
        curate_main(["nb-score", docs, "-o", nb, "--pos-values", "nope"])

    ld = str(tmp_path / "ld")
    assert curate_main(["line-dedup", docs, "-o", ld]) == 0
    row = duckdb.sql(
        f"SELECT sum(n_segments) >= sum(n_kept) FROM '{ld}/*.parquet'"
    ).fetchone()
    assert row == (True,)

    cont = str(tmp_path / "cont")
    assert curate_main(
        ["containment", docs, "-o", cont, "--threshold", "0.5"]
    ) == 0
    cols = duckdb.sql(f"SELECT * FROM '{cont}/*.parquet' LIMIT 0").df().columns
    assert {"d1", "d2", "c1", "c2"} <= set(cols)


def test_curate_cli_pagerank_and_anomalies(spark, tmp_path):
    import duckdb

    from res2df_spark.cli import curate_main

    edges = str(tmp_path / "edges.parquet")
    spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")], "src string, dst string"
    ).write.parquet(edges)
    pr = str(tmp_path / "pr")
    assert curate_main(
        ["pagerank", edges, "-o", pr, "--iterations", "4"]
    ) == 0
    rows = duckdb.sql(
        f"SELECT node, rank FROM '{pr}/*.parquet' ORDER BY node"
    ).fetchall()
    assert [n for n, _ in rows] == ["a", "b", "c"]
    assert all(r > 0 for _, r in rows)
    with pytest.raises(SystemExit, match="not in input"):
        curate_main(["pagerank", edges, "-o", pr, "--src-col", "nope"])

    ev = str(tmp_path / "ev.parquet")
    spark.createDataFrame(
        [(i, "u1", 10.0 if i else 999.0) for i in range(8)],
        "event_id long, user_id string, value double",
    ).write.parquet(ev)
    an = str(tmp_path / "an")
    assert curate_main(
        ["anomalies", ev, "-o", an, "--id-col", "event_id"]
    ) == 0
    got = duckdb.sql(f"SELECT event_id, value FROM '{an}/*.parquet'").fetchall()
    assert got == [(0, 999.0)]


def test_cli_wellcompletiondata_default_zonemap(tmp_path, capsys):
    """Reference get_zonemap parity (resdatafiles.py:207-247): with no
    --zonemap, zones.lyr next to the deck is used; when absent the
    aggregate is empty (no warning for the defaulted name)."""
    deck = tmp_path / "CASE.DATA"
    deck.write_text(
        """
START
  1 JAN 2020 /
WELSPECS
  'OP1' 'G1' 1 1 1000.0 'OIL' /
/
COMPDAT
  'OP1' 1 1 1 2 'OPEN' 1* 1* 1* 100.0 /
/
"""
    )
    # no zones.lyr → empty result, rc 0
    assert cli.main(["wellcompletiondata", str(deck), "-o", "-"]) == 0
    out = capsys.readouterr().out
    assert "UPPER" not in out
    # default zones.lyr discovered next to the deck
    (tmp_path / "zones.lyr").write_text("'UPPER' 1-2\n")
    assert cli.main(["wellcompletiondata", str(deck), "-o", "-"]) == 0
    assert "UPPER" in capsys.readouterr().out


# ---------------------------------------------------------------------------
# Round 9: reference CLI-surface parity flags (verdict #3) — grid
# --vectors/--dropconstants/--stackdates (grid.py:544-586), pillars
# --region/cutoffs/--group/--stackdates (pillars.py:322-407), rft
# --wellname/--date (rft.py:520-532)
# ---------------------------------------------------------------------------


@pytest.mark.skipif(not os.path.isdir(_EIGHT), reason="fixtures not present")
def test_cli_grid_vectors_and_dropconstants(capsys):
    from res2df_spark.cli import main

    assert main(["grid", f"{_EIGHT}/EIGHTCELLS", "--vectors", "PERM*",
                 "-o", "-"]) == 0
    header = capsys.readouterr().out.splitlines()[0].split(",")
    assert {"PERMX", "PERMY", "PERMZ"} <= set(header)
    assert "PORO" not in header  # filtered out by the wildcard
    assert {"I", "J", "K", "ACTIVE_INDEX"} <= set(header)  # geometry kept

    assert main(["grid", f"{_EIGHT}/EIGHTCELLS", "--dropconstants",
                 "-o", "-"]) == 0
    header2 = capsys.readouterr().out.splitlines()[0].split(",")
    # every cell has the same PERMX in this fixture — must be dropped;
    # the varying geometry stays
    assert "PERMX" not in header2
    assert {"I", "J", "K"} <= set(header2)


@pytest.mark.skipif(not os.path.isdir(_EIGHT), reason="fixtures not present")
def test_cli_grid_restart_wide_vs_stacked(capsys):
    from res2df_spark.cli import main

    # reference DEFAULT: dates live in the headers (NAME@YYYY-MM-DD)
    assert main(["grid", f"{_EIGHT}/EIGHTCELLS", "--rstdates", "all",
                 "-o", "-"]) == 0
    header = capsys.readouterr().out.splitlines()[0].split(",")
    assert "DATE" not in header
    assert any(h.startswith("SWAT@") for h in header)

    # --stackdates: one DATE column, plain vector names
    assert main(["grid", f"{_EIGHT}/EIGHTCELLS", "--rstdates", "all",
                 "--stackdates", "-o", "-"]) == 0
    out = capsys.readouterr().out.splitlines()
    header2 = out[0].split(",")
    assert "DATE" in header2 and "SWAT" in header2
    assert not any("@" in h for h in header2)
    assert len(out) == 3 * 8 + 1  # 3 restart steps x 8 cells


@pytest.mark.skipif(not os.path.isdir(_EIGHT), reason="fixtures not present")
def test_cli_pillars_contacts_and_region(capsys):
    from res2df_spark.cli import main

    assert main(["pillars", f"{_EIGHT}/EIGHTCELLS", "--rstdates", "last",
                 "--soilcutoff", "0.2", "--swatcutoff", "0.1",
                 "-o", "-"]) == 0
    out = capsys.readouterr().out.splitlines()
    header = out[0].split(",")
    # wide (reference default): the one date tags the columns; OWC from
    # the cutoffs; two-phase SOIL closure (no SGAS in this fixture)
    assert any(h.startswith("OWC@") for h in header)
    assert any(h.startswith("WATVOL_SUM@") for h in header)
    assert len(out) == 5  # 2x2 pillars + header

    assert main(["pillars", f"{_EIGHT}/EIGHTCELLS", "--region", "FIPNUM",
                 "-o", "-"]) == 0
    out2 = capsys.readouterr().out.splitlines()
    assert "FIPNUM" in out2[0].split(",")
    assert len(out2) == 2 * 4 + 1  # 2 FIPNUM regions x 4 pillars


@pytest.mark.skipif(not os.path.isdir(_EIGHT), reason="fixtures not present")
def test_cli_pillars_group(capsys):
    from res2df_spark.cli import main

    assert main(["pillars", f"{_EIGHT}/EIGHTCELLS", "--group",
                 "-o", "-"]) == 0
    out = capsys.readouterr().out.splitlines()
    assert len(out) == 2  # one aggregated row
    header = out[0].split(",")
    assert "PILLAR" not in header
    row = dict(zip(header, out[1].split(",")))
    # reference pillars_main:435-437 quirk: global mean, PORO re-derived
    assert abs(float(row["PORO_WMEAN"]) - 0.2) < 1e-6

    assert main(["pillars", f"{_EIGHT}/EIGHTCELLS", "--region", "FIPNUM",
                 "--group", "-o", "-"]) == 0
    out2 = capsys.readouterr().out.splitlines()
    assert len(out2) == 3  # one row per FIPNUM region
    assert "FIPNUM" in out2[0].split(",")


@pytest.mark.skipif(not os.path.isdir(_EIGHT), reason="fixtures not present")
def test_cli_pillars_unknown_region_warns_not_fails(capsys):
    from res2df_spark.cli import main

    with pytest.warns(RuntimeWarning, match="not found"):
        assert main(["pillars", f"{_EIGHT}/EIGHTCELLS",
                     "--region", "NOSUCHREG", "-o", "-"]) == 0
    out = capsys.readouterr().out.splitlines()
    assert len(out) == 5  # falls back to plain pillar grouping


@pytest.mark.skipif(not os.path.isdir(_EIGHT), reason="fixtures not present")
def test_cli_rft_wellname_and_date_filters(capsys):
    from res2df_spark.cli import main

    assert main(["rft", f"{_EIGHT}/EIGHTCELLS", "-o", "-"]) == 0
    all_rows = capsys.readouterr().out.splitlines()

    assert main(["rft", f"{_EIGHT}/EIGHTCELLS", "--wellname", "OP1",
                 "-o", "-"]) == 0
    op1 = capsys.readouterr().out.splitlines()
    widx = op1[0].split(",").index("WELL")
    assert len(op1) > 1
    assert all(r.split(",")[widx] == "OP1" for r in op1[1:])

    didx = all_rows[0].split(",").index("DATE")
    some_date = all_rows[1].split(",")[didx][:10]
    assert main(["rft", f"{_EIGHT}/EIGHTCELLS", "--date", some_date,
                 "-o", "-"]) == 0
    dated = capsys.readouterr().out.splitlines()
    assert len(dated) > 1
    assert all(r.split(",")[didx].startswith(some_date) for r in dated[1:])

    # a non-matching filter yields an empty (header-only) table, like
    # the reference's "No data. Check your well and/or date filter"
    assert main(["rft", f"{_EIGHT}/EIGHTCELLS", "--wellname", "NOWELL",
                 "-o", "-"]) == 0
    assert len(capsys.readouterr().out.splitlines()) == 1


@pytest.mark.skipif(not os.path.isdir(_EIGHT), reason="fixtures not present")
def test_cli_summary_include_restart_and_paramfile(tmp_path, capsys):
    """summary --include_restart is a no-op on a chain-less case;
    --paramfile attaches the named key-value file (implies --params)."""
    from res2df_spark.cli import main

    pf = tmp_path / "custom.txt"
    pf.write_text("MYKEY 42\n")
    assert main(["summary", f"{_EIGHT}/EIGHTCELLS", "--include_restart",
                 "--paramfile", str(pf), "-o", "-"]) == 0
    out = capsys.readouterr().out.splitlines()
    # naive comma-split misaligns on quoted vector names like
    # "BPR:1,1,1" — assert membership instead of position
    assert "MYKEY" in out[0]
    assert ",42" in out[1] or out[1].startswith("42")


# ---------------------------------------------------------------------------
# Binary subcommands on a generated case (the ``gencase`` fixture: the
# benchmark's seeded tiny Reek-shaped case).  Expected row counts,
# headers and values come from the arrays the generator wrote.
# ---------------------------------------------------------------------------


def _csv(tmp_path, *argv):
    """Run res2csv with ``-o <tmp csv>`` and read the result back."""
    import pandas as pd

    out = tmp_path / f"out{len(list(tmp_path.iterdir()))}.csv"
    assert cli.main([*argv, "-o", str(out)]) == 0
    return pd.read_csv(out)


def _active_index(model, i, j, k):
    """0-based active index of 1-based (I, J, K) in the generated grid."""
    import numpy as np

    shape = model["shape"]
    g = (i - 1) + shape["nx"] * (j - 1) + shape["nx"] * shape["ny"] * (k - 1)
    return int(np.cumsum(model["actnum"])[g]) - 1


def _start_conns(model):
    """{well: [K, ...]} of the completions at the schedule's start date,
    in the generator's well order."""
    start = model["rst_dates"][0]
    out: dict = {}
    for well, _i, _j, k, _status, d in model["compdat"]:
        if d == start:
            out.setdefault(well, []).append(k)
    return out


def test_cli_summary_generated(gencase, tmp_path):
    import numpy as np
    import pandas as pd

    root, model = gencase
    wide = model["summary"]
    wopr = sorted(c for c in wide.columns if c.startswith("WOPR:"))
    df = _csv(tmp_path, "summary", root, "--column_keys", "FOPT,WOPR:*")
    assert list(df.columns) == ["DATE", "FOPT", *wopr]
    assert len(df) == len(wide)
    assert (pd.to_datetime(df["DATE"]) == wide.index).all()
    assert np.allclose(df[["FOPT", *wopr]], wide[["FOPT", *wopr]], rtol=1e-6)

    # the report steps are month starts, so the monthly spine is the raw
    # one and a total keeps its values
    df = _csv(tmp_path, "summary", root, "--time_index", "monthly",
              "--column_keys", "FOPT")
    assert list(df.columns) == ["DATE", "FOPT"]
    assert (pd.to_datetime(df["DATE"]) == wide.index).all()
    assert np.allclose(df["FOPT"], wide["FOPT"], rtol=1e-6)


def test_cli_grid_restart_wide_vs_stacked_generated(gencase, tmp_path):
    import numpy as np

    root, model = gencase
    dates = model["rst_dates"]
    wide = _csv(tmp_path, "grid", root, "--rstdates", "all")
    assert "DATE" not in wide.columns
    assert {f"{v}@{d.isoformat()}" for v in ("PRESSURE", "SWAT", "SGAS")
            for d in dates} <= set(wide.columns)
    assert len(wide) == model["nactive"]
    wide = wide.sort_values("ACTIVE_INDEX")
    for d in dates:
        assert np.allclose(wide[f"PRESSURE@{d.isoformat()}"],
                           model["rst"][d]["PRESSURE"])

    stacked = _csv(tmp_path, "grid", root, "--rstdates", "all", "--stackdates")
    assert {"DATE", "PRESSURE", "SWAT", "SGAS"} <= set(stacked.columns)
    assert not any("@" in c for c in stacked.columns)
    assert len(stacked) == model["nactive"] * len(dates)
    stacked = stacked.sort_values(["DATE", "ACTIVE_INDEX"])
    assert np.allclose(
        stacked["PRESSURE"],
        np.concatenate([model["rst"][d]["PRESSURE"] for d in dates]),
    )


def test_cli_grid_vectors_and_dropconstants_generated(gencase, tmp_path):
    import numpy as np

    root, model = gencase
    df = _csv(tmp_path, "grid", root, "--vectors", "PERM*")
    assert {"PERMX", "PERMY", "PERMZ"} <= set(df.columns)
    assert not {"PORO", "NTG", "SATNUM"} & set(df.columns)
    assert {"I", "J", "K", "ACTIVE_INDEX"} <= set(df.columns)
    assert len(df) == model["nactive"]

    df = _csv(tmp_path, "grid", root, "--dropconstants")
    # SATNUM is 1 in every cell; the varying properties stay
    assert "SATNUM" not in df.columns
    assert {"PORO", "PERMX", "FIPNUM", "I", "J", "K"} <= set(df.columns)
    assert np.allclose(df.sort_values("ACTIVE_INDEX")["PORO"],
                       model["init"]["PORO"])


def test_cli_rft_wellname_and_date_generated(gencase, tmp_path):
    root, model = gencase
    conns = _start_conns(model)
    rft_wells = list(conns)[: model["shape"]["rft_wells"]]
    every = _csv(tmp_path, "rft", root)
    assert len(every) == model["rft_rows"]

    well = rft_wells[0]
    df = _csv(tmp_path, "rft", root, "--wellname", well)
    # one survey per well at each of the first two restart dates
    assert len(df) == 2 * len(conns[well])
    assert set(df["WELL"]) == {well}

    day = model["rst_dates"][1].isoformat()
    df = _csv(tmp_path, "rft", root, "--date", day)
    assert len(df) == sum(len(conns[w]) for w in rft_wells)
    assert {d[:10] for d in df["DATE"]} == {day}


def test_cli_trans_generated(gencase, tmp_path):
    import numpy as np

    root, model = gencase
    df = _csv(tmp_path, "trans", root)
    assert list(df.columns) == ["I1", "J1", "K1", "I2", "J2", "K2", "DIR", "TRAN"]
    # every TRAN* value the generator writes is positive: one face per
    # active cell and direction, the neighbour one step along it
    assert len(df) == 3 * model["nactive"]
    for d, vec in (("I", "TRANX"), ("J", "TRANY"), ("K", "TRANZ")):
        part = df[df["DIR"] == d].sort_values(["K1", "J1", "I1"])
        assert len(part) == model["nactive"]
        assert np.allclose(part["TRAN"], model["init"][vec])


def test_cli_pillars_generated(gencase, tmp_path):
    import numpy as np

    root, model = gencase
    nx, ny = model["shape"]["nx"], model["shape"]["ny"]
    active_columns = model["actnum"].reshape(-1, nx * ny).any(axis=0)
    df = _csv(tmp_path, "pillars", root)
    assert "PILLAR" in df.columns
    assert len(df) == int(np.count_nonzero(active_columns))


def test_cli_nnc_generated(gencase, tmp_path):
    root, _model = gencase
    # the generated EGRID has no NNC1/NNC2: header only
    df = _csv(tmp_path, "nnc", root)
    assert list(df.columns) == ["I1", "J1", "K1", "I2", "J2", "K2", "TRAN"]
    assert len(df) == 0
    df = _csv(tmp_path, "nnc", root, "--pillars", "--coords")
    assert list(df.columns) == ["I1", "J1", "K1", "I2", "J2", "K2", "TRAN",
                                "X", "Y", "Z"]
    assert len(df) == 0


def test_cli_compdat_initvectors_generated(gencase, tmp_path):
    import numpy as np

    root, model = gencase
    df = _csv(tmp_path, "compdat", root + ".DATA", "--initvectors", "PORO")
    assert {"WELL", "I", "J", "K1", "K2", "OP/SH", "PORO"} <= set(df.columns)
    active = model["actnum"].astype(bool)
    nx, ny = model["shape"]["nx"], model["shape"]["ny"]
    # inner join: a connection in an inactive cell has no grid row
    want = sorted(
        (w, i, j, k, status, d.isoformat())
        for w, i, j, k, status, d in model["compdat"]
        if active[(i - 1) + nx * (j - 1) + nx * ny * (k - 1)]
    )
    got = sorted(zip(df["WELL"], df["I"], df["J"], df["K1"], df["OP/SH"],
                     (d[:10] for d in df["DATE"])))
    assert got == want
    poro = model["init"]["PORO"]
    assert np.allclose(
        df["PORO"],
        [poro[_active_index(model, i, j, k)]
         for i, j, k in zip(df["I"], df["J"], df["K1"])],
    )


def test_cli_wellcompletiondata_missing_zonemap_ignored(gencase, tmp_path,
                                                        capsys):
    """An explicitly named zonemap that does not exist warns on stderr
    and continues with an empty map: rc 0, no zone rows."""
    root, _model = gencase
    missing = tmp_path / "nosuch.lyr"
    assert cli.main(["wellcompletiondata", root + ".DATA",
                     "--zonemap", str(missing), "-o", "-"]) == 0
    captured = capsys.readouterr()
    assert f"{missing} not found, ignoring" in captured.err
    lines = captured.out.splitlines()
    assert lines[0].split(",")[:2] == ["WELL", "ZONE"]
    assert lines[1:] == []


def test_case_reads_deck_from_any_path(spark, gencase):
    """A deck named by a path that is not ``<root>.DATA`` (an include
    file) is read as given, like the reference's ``get_deck``."""
    from res2df_spark.case import ResdataCase
    from res2df_spark.modules import tables
    from res2df_spark.sources.deck import read_deck

    root, _model = gencase
    inc = os.path.join(os.path.dirname(root), "include", "props.inc")
    got = ResdataCase(spark, inc).satfunc()
    want = tables.satfunc_df(spark, read_deck(inc))
    assert want.count() > 0
    assert sorted(got.collect()) == sorted(want.collect())


def test_cli_fipreports_bare_prt_file(spark, tmp_path):
    """fipreports takes a PRT file as its case argument, whatever the
    case of its extension (reference fipreports_main)."""
    from res2df_spark.modules import fipreports
    from tests.test_fipreports_corpus import GASWATER_PRT

    for name in ("GW.PRT", "gw.prt"):
        prt = tmp_path / name
        prt.write_text(GASWATER_PRT)
        df = _csv(tmp_path, "fipreports", str(prt))
        assert len(df) == fipreports.df(spark, str(prt)).count() == 5
        assert set(df["REGION"]) == {2}
