"""Seeded, deterministic input generators for the benchmark.

Everything here derives from ``(seed, shape)`` alone and writes plain
files: Eclipse binaries through the engine's public
``eclbin.write_keyword`` / ``eclbin.write_summary``, deck text, CSV and
Parquet.  Each generator also returns (and pickles next to its files) the
*model* it wrote — the arrays the output checks compare against — so a
check never trusts the engine to tell it what the input was.

Generated directories are cached under
``<work>/inputs/<kind>-<shape>-s<seed>-<digest>`` and re-used when a
finished marker is present.  Run as a script, this file generates the
input sets a workload needs, so the benchmark can keep generation out of
its own process:

    python3 perfbench/gen.py <work> <shape> <seed> <kind>...
"""

from __future__ import annotations

import datetime as dt
import os
import pickle
import shutil
import sys
import zlib

import numpy as np

#: Workload sizes.  ``full`` is what the benchmark measures; ``tiny`` is
#: the self-test size.
SHAPES = {
    "full": {
        "case": dict(nx=40, ny=64, nz=14, inactive=0.02, n_wells=8,
                     n_groups=4, rst_dates=3, n_months=60, rft_wells=6),
        "ensemble": dict(n_real=100, n_wells=10, n_months=24),
        "suite": dict(sf=0.01),
    },
    "tiny": {
        "case": dict(nx=6, ny=8, nz=3, inactive=0.05, n_wells=3,
                     n_groups=2, rst_dates=2, n_months=6, rft_wells=2),
        "ensemble": dict(n_real=3, n_wells=2, n_months=6),
        "suite": dict(sf=0.001),
    },
}

CASE_NAME = "REEKSYN"
START = dt.datetime(2000, 1, 1)

#: Summary vector families written per well / group / field.
W_KEYS = ["WOPR", "WWPR", "WGPR", "WOPT", "WWPT", "WGPT", "WBHP", "WTHP",
          "WWCT", "WGOR", "WOPRH", "WWPRH", "WGPRH", "WBHPH"]
G_KEYS = ["GOPR", "GWPR", "GGPR", "GOPT", "GWPT", "GGPT", "GWCT", "GGOR"]
F_KEYS = ["FOPR", "FWPR", "FGPR", "FOPT", "FWPT", "FGPT", "FWCT", "FGOR",
          "FPR", "FOIP", "FWIP", "FGIP"]


def _cached(work: str, kind: str, shape: str, seed: int, build):
    """Return the model of a generated input set, building it once.  The
    directory name carries a digest of this file and of the shape, so a
    changed generator never re-uses inputs of an older one."""
    with open(os.path.abspath(__file__), "rb") as f:
        key = zlib.crc32(f.read() + repr(SHAPES[shape][kind]).encode())
    d = os.path.join(work, "inputs", f"{kind}-{shape}-s{seed}-{key:08x}")
    marker = os.path.join(d, "model.pkl")
    if os.path.isfile(marker):
        with open(marker, "rb") as f:
            return pickle.load(f)
    tmp = d + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    model = build(tmp, np.random.default_rng([seed, zlib.crc32(kind.encode())]),
                  SHAPES[shape][kind])
    model["dir"] = d
    with open(os.path.join(tmp, "model.pkl"), "wb") as f:
        pickle.dump(model, f)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return model


def dir_bytes(d: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(d):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# ---------------------------------------------------------------------------
# Reek-shaped single case
# ---------------------------------------------------------------------------


def _months(n: int) -> list[dt.datetime]:
    out, y, m = [], START.year, START.month
    for _ in range(n + 1):
        out.append(dt.datetime(y, m, 1))
        m += 1
        if m > 12:
            y, m = y + 1, 1
    return out


def _deck_date(d: dt.datetime) -> str:
    mon = ["JAN", "FEB", "MAR", "APR", "MAY", "JUN", "JUL", "AUG", "SEP",
           "OCT", "NOV", "DEC"][d.month - 1]
    return f"{d.day} '{mon}' {d.year}"


def _write_egrid(path, nx, ny, nz, rng, actnum):
    from res2df_spark.sources.eclbin import write_keyword

    dx, dy = 75.0, 50.0
    xs = np.arange(nx + 1) * dx + 456000.0
    ys = np.arange(ny + 1) * dy + 5930000.0
    px, py = np.meshgrid(xs, ys)  # (ny+1, nx+1)
    # dipping top surface with a smooth bump, layer thicknesses per pillar
    top = (1580.0 + 0.02 * (px - xs[0]) + 0.03 * (py - ys[0])
           + 15.0 * np.sin((px - xs[0]) / 900.0) * np.cos((py - ys[0]) / 700.0))
    thick = rng.uniform(2.0, 9.0, size=nz)
    surf = top[None] + np.concatenate([[0.0], np.cumsum(thick)])[:, None, None]
    coord = np.stack([px, py, surf[0], px, py, surf[-1]], axis=-1)
    zc = np.empty((2 * nz, 2 * ny, 2 * nx))
    for k in range(nz):
        for cz in (0, 1):
            s = surf[k + cz]
            for cy in (0, 1):
                for cx in (0, 1):
                    zc[2 * k + cz, cy::2, cx::2] = s[cy:cy + ny, cx:cx + nx]
    with open(path, "wb") as f:
        write_keyword(f, "FILEHEAD", "INTE", [3, 2007, 0, 0, 0, 0, 0])
        write_keyword(f, "GRIDHEAD", "INTE", [1, nx, ny, nz] + [0] * 96)
        write_keyword(f, "COORD", "REAL", coord.ravel())
        write_keyword(f, "ZCORN", "REAL", zc.ravel())
        write_keyword(f, "ACTNUM", "INTE", actnum)
        write_keyword(f, "ENDGRID", "INTE", [])
    return surf


def _intehead(d: dt.datetime, nx, ny, nz, nactive) -> list[int]:
    head = [0] * 95
    head[8], head[9], head[10], head[11] = nx, ny, nz, nactive
    head[64], head[65], head[66] = d.day, d.month, d.year
    return head


def gen_case(work: str, shape: str, seed: int) -> dict:
    return _cached(work, "case", shape, seed, _build_case)


def _build_case(d: str, rng, p: dict) -> dict:
    import pandas as pd

    from res2df_spark.sources.eclbin import write_keyword, write_summary

    nx, ny, nz = p["nx"], p["ny"], p["nz"]
    nglobal = nx * ny * nz
    actnum = (rng.random(nglobal) >= p["inactive"]).astype(np.int32)
    nact = int(actnum.sum())
    root = os.path.join(d, CASE_NAME)
    _write_egrid(root + ".EGRID", nx, ny, nz, rng, actnum)

    # ---- INIT ------------------------------------------------------------
    f32 = np.float32
    init = {
        "PORO": rng.uniform(0.05, 0.33, nact).astype(f32),
        "PERMX": rng.lognormal(5.0, 1.2, nact).astype(f32),
        "NTG": rng.uniform(0.4, 1.0, nact).astype(f32),
        "TRANX": rng.lognormal(2.0, 1.0, nact).astype(f32),
        "TRANY": rng.lognormal(2.0, 1.0, nact).astype(f32),
        "TRANZ": rng.lognormal(0.0, 1.0, nact).astype(f32),
    }
    init["PERMY"] = init["PERMX"]
    init["PERMZ"] = (init["PERMX"] * f32(0.1)).astype(f32)
    kact = (np.nonzero(actnum)[0] // (nx * ny))
    fipnum = (kact * 3 // nz + 1).astype(np.int32)
    porv = np.zeros(nglobal, dtype=f32)
    porv[actnum != 0] = (init["PORO"] * f32(75 * 50 * 5)).astype(f32)
    with open(root + ".INIT", "wb") as f:
        write_keyword(f, "INTEHEAD", "INTE", _intehead(START, nx, ny, nz, nact))
        write_keyword(f, "PORV", "REAL", porv)
        for k in ("PORO", "PERMX", "PERMY", "PERMZ", "NTG", "TRANX", "TRANY",
                  "TRANZ"):
            write_keyword(f, k, "REAL", init[k])
        write_keyword(f, "FIPNUM", "INTE", fipnum)
        write_keyword(f, "SATNUM", "INTE", np.ones(nact, dtype=np.int32))

    # ---- UNRST -----------------------------------------------------------
    months = _months(p["n_months"])
    step = max(1, p["n_months"] // p["rst_dates"])
    rst_dates = [months[i * step] for i in range(p["rst_dates"])]
    rst = {}
    with open(root + ".UNRST", "wb") as f:
        for i, rd in enumerate(rst_dates):
            pres = (300.0 - 20.0 * i + rng.normal(0, 2.0, nact)).astype(f32)
            swat = np.clip(0.2 + 0.05 * i + rng.normal(0, 0.03, nact), 0, 1).astype(f32)
            sgas = np.clip(0.02 * i + rng.normal(0, 0.01, nact), 0, 1).astype(f32)
            rst[rd.date()] = {"PRESSURE": pres, "SWAT": swat, "SGAS": sgas}
            write_keyword(f, "SEQNUM", "INTE", [i])
            write_keyword(f, "INTEHEAD", "INTE", _intehead(rd, nx, ny, nz, nact))
            for k, v in rst[rd.date()].items():
                write_keyword(f, k, "REAL", v)

    # ---- wells and schedule ---------------------------------------------
    n_wells = p["n_wells"]
    groups = [f"G{g + 1}" for g in range(p["n_groups"])]
    cells = rng.choice(nx * ny, size=n_wells, replace=False)
    wells = []
    for w in range(n_wells):
        i, j = int(cells[w] % nx) + 1, int(cells[w] // nx) + 1
        k1 = int(rng.integers(1, max(2, nz // 2)))
        k2 = int(rng.integers(k1, nz + 1))
        wells.append({"WELL": f"{'OP' if w % 4 else 'WI'}_{w + 1}",
                      "GROUP": groups[w % len(groups)], "I": i, "J": j,
                      "K1": k1, "K2": k2})
    sched, compdat, wcon = _schedule(wells, months, rng)
    inc = os.path.join(d, "include")
    os.makedirs(inc)
    with open(os.path.join(inc, "schedule.inc"), "w") as f:
        f.write(sched)
    with open(os.path.join(inc, "props.inc"), "w") as f:
        f.write(_props_text())
    with open(os.path.join(inc, "solution.inc"), "w") as f:
        f.write(_solution_text())
    with open(root + ".DATA", "w") as f:
        f.write(
            "RUNSPEC\n\nDIMENS\n  {} {} {} /\n\nOIL\nWATER\nGAS\nDISGAS\nMETRIC\n\n"
            "START\n  {} /\n\nGRID\n\nPROPS\n\nINCLUDE\n  'include/props.inc' /\n\n"
            "SOLUTION\n\nINCLUDE\n  'include/solution.inc' /\n\n"
            "SCHEDULE\n\nINCLUDE\n  'include/schedule.inc' /\n\nEND\n".format(
                nx, ny, nz, _deck_date(START))
        )

    # ---- summary -----------------------------------------------------------
    vectors = [f"{k}:{w['WELL']}" for w in wells for k in W_KEYS]
    vectors += [f"{k}:{g}" for g in groups for k in G_KEYS] + list(F_KEYS)
    mat = np.abs(np.cumsum(rng.normal(1.0, 0.5, (len(months), len(vectors))),
                           axis=0)).astype(f32)
    wide = pd.DataFrame(mat, index=pd.DatetimeIndex(months), columns=vectors)
    write_summary(root + ".SMSPEC", START, wide)

    # ---- RFT -------------------------------------------------------------
    rft_rows = 0
    with open(root + ".RFT", "wb") as f:
        for w in wells[: p["rft_wells"]]:
            for rd in rst_dates[:2]:
                ks = np.arange(w["K1"], w["K2"] + 1, dtype=np.int32)
                days = (rd - START).days
                write_keyword(f, "TIME", "REAL", [float(days)])
                write_keyword(f, "DATE", "INTE", [rd.day, rd.month, rd.year])
                write_keyword(f, "WELLETC", "CHAR",
                              ["BARSA", w["WELL"], "", "", "", "R", "", "", "", ""])
                write_keyword(f, "CONIPOS", "INTE", np.full(len(ks), w["I"]))
                write_keyword(f, "CONJPOS", "INTE", np.full(len(ks), w["J"]))
                write_keyword(f, "CONKPOS", "INTE", ks)
                write_keyword(f, "DEPTH", "REAL", 1600.0 + 5.0 * ks)
                write_keyword(f, "PRESSURE", "REAL",
                              rng.uniform(200, 300, len(ks)).astype(f32))
                write_keyword(f, "SWAT", "REAL", rng.uniform(0, 1, len(ks)).astype(f32))
                write_keyword(f, "SGAS", "REAL", np.zeros(len(ks), dtype=f32))
                rft_rows += len(ks)

    # ---- CSV inputs for the write-back direction ----------------------------
    wb = os.path.join(d, "writeback")
    os.makedirs(wb)
    pd.DataFrame([{"KEYWORD": "EQUIL", "EQLNUM": e + 1, "Z": 1700.0 + e,
                   "PRESSURE": 250.0 + e, "OWC": 1720.0 + e, "PCOWC": 0.0,
                   "GOC": 1650.0, "PCGOC": 0.0} for e in range(3)]
                 ).to_csv(os.path.join(wb, "equil.csv"), index=False)

    model = {
        "shape": p, "nactive": nact, "actnum": actnum,
        "init": init, "rst": rst, "rst_dates": [r.date() for r in rst_dates],
        "summary": wide, "rft_rows": rft_rows, "compdat": compdat, "wcon": wcon,
    }
    _read_back_case(root, model)
    return model


def _read_back_case(root: str, m: dict) -> None:
    """Decode what was written with the engine's plain numpy readers and
    compare with the model, so a failed check in a run is never a
    generator fault."""
    from res2df_spark.sources.eclbin import read_keywords

    def first(path, kw):
        return next(v for k, _t, v in read_keywords(path) if k == kw)

    problems = []
    if not np.array_equal(first(root + ".EGRID", "ACTNUM"), m["actnum"]):
        problems.append("EGRID ACTNUM")
    if not np.array_equal(first(root + ".INIT", "PORO"), m["init"]["PORO"]):
        problems.append("INIT PORO")
    pres = [v for k, _t, v in read_keywords(root + ".UNRST") if k == "PRESSURE"]
    if not all(np.array_equal(a, m["rst"][d]["PRESSURE"]) for a, d in zip(pres, m["rst_dates"])):
        problems.append("UNRST PRESSURE")
    _read_back_summary(root, m["summary"], problems)
    if problems:
        raise RuntimeError(f"generated case does not read back: {problems}")


def _read_back_summary(root: str, wide, problems: list) -> None:
    from res2df_spark.sources.eclbin import summary_long_pandas

    with open(root + ".SMSPEC", "rb") as f, open(root + ".UNSMRY", "rb") as g:
        long = summary_long_pandas(f.read(), g.read())
    back = long.pivot(index="DATE", columns="VECTOR", values="VALUE")
    back = back.reindex(index=wide.index, columns=wide.columns)
    if not np.array_equal(back.to_numpy(), wide.to_numpy(dtype=np.float64)):
        problems.append(f"{os.path.basename(root)} SMSPEC/UNSMRY")


def _schedule(wells, months, rng) -> tuple[str, list, list]:
    """Deck SCHEDULE text, and the schedule model the checks compare with.

    COMPLUMP and WELOPEN appear the way field decks use them: lumps are
    defined right after the completions, and WELOPEN then opens or shuts
    whole wells, single connections (I J K) or lumps (C1 C2) at later
    report dates.  The model applies the keywords in deck order:
    ``compdat`` has one (WELL, I, J, K, OP/SH, DATE) row per connection
    when it is completed and one for each later WELOPEN that acts on it,
    ``wcon`` one (DATE, WELL, STATUS, CMODE, ORAT) row per WCONHIST
    record."""
    start = months[0].date()
    compdat = [(w["WELL"], w["I"], w["J"], k, "OPEN", start)
               for w in wells for k in range(w["K1"], w["K2"] + 1)]
    wcon = []
    lines = ["GRUPTREE\n" + "".join(
        f"  '{g}' 'FIELD' /\n" for g in sorted({w['GROUP'] for w in wells})) + "/\n"]
    lines.append("WELSPECS\n" + "".join(
        f"  '{w['WELL']}' '{w['GROUP']}' {w['I']} {w['J']} 1600.0 "
        f"{'OIL' if w['WELL'].startswith('OP') else 'WATER'} /\n" for w in wells) + "/\n")
    lines.append("COMPDAT\n" + "".join(
        f"  '{w['WELL']}' {w['I']} {w['J']} {w['K1']} {w['K2']} OPEN 1* 1* 0.216 /\n"
        for w in wells) + "/\n")
    # two lumps per well: upper and lower half of its completed interval
    lumps = {}
    lines.append("COMPLUMP\n")
    for w in wells:
        mid = (w["K1"] + w["K2"]) // 2
        for n, (a, b) in enumerate([(w["K1"], mid), (mid + 1, w["K2"])], 1):
            lumps[w["WELL"], n] = range(a, b + 1)
            if a <= b:
                lines.append(f"  '{w['WELL']}' {w['I']} {w['J']} {a} {b} {n} /\n")
    lines.append("/\n")
    for mi, m in enumerate(months[1:], 1):
        lines.append(f"DATES\n  {_deck_date(m)} /\n/\n")
        rates = [round(float(rng.uniform(100, 2000)), 2) for _ in wells]
        lines.append("WCONHIST\n" + "".join(
            f"  '{w['WELL']}' OPEN ORAT {r:.2f} 1* 1* /\n" for w, r in zip(wells, rates))
            + "/\n")
        wcon += [(m.date(), w["WELL"], "OPEN", "ORAT", r) for w, r in zip(wells, rates)]
        if mi % 3 == 0:
            w = wells[int(rng.integers(len(wells)))]
            status = "SHUT" if rng.random() < 0.5 else "OPEN"
            form = int(rng.integers(3))
            if form == 0:  # whole well
                rec, ks = "", range(w["K1"], w["K2"] + 1)
            elif form == 1:  # one connection
                k = int(rng.integers(w["K1"], w["K2"] + 1))
                rec, ks = f" {w['I']} {w['J']} {k}", [k]
            else:  # one lump (an empty lump acts on no connection)
                lump = int(rng.integers(1, 3))
                rec, ks = f" 3* {lump} {lump}", lumps[w["WELL"], lump]
            lines.append(f"WELOPEN\n  '{w['WELL']}' {status}{rec} /\n/\n")
            compdat += [(w["WELL"], w["I"], w["J"], k, status, m.date()) for k in ks]
    return "".join(lines), compdat, wcon


def _props_text() -> str:
    sw = np.round(np.linspace(0.15, 0.85, 12), 4)
    lines = ["SWOF"]
    for s in sw:
        krw = ((s - 0.15) / 0.7) ** 2
        krow = ((0.85 - s) / 0.7) ** 2
        lines.append(f"  {s:.4f} {krw:.6f} {krow:.6f} 0.0")
    lines.append("/")
    lines.append("PVTO")
    for r in (20.0, 60.0, 100.0):
        lines.append(f"  {r} {50.0 + r} {1.1 + r / 1000:.4f} {1.5 - r / 500:.4f} /")
    lines.append("  140.0 190.0 1.24 1.22\n        300.0 1.2 1.4 /")
    lines.append("/")
    return "\n".join(lines) + "\n"


#: the deck's one EQUIL record: Z, PRESSURE, OWC, PCOWC, GOC, PCGOC
EQUIL = (1700.0, 250.0, 1720.0, 0.0, 1650.0, 0.0)


def _solution_text() -> str:
    return "EQUIL\n  " + " ".join(str(v) for v in EQUIL) + " /\n"


# ---------------------------------------------------------------------------
# Ensemble of summary-only realizations
# ---------------------------------------------------------------------------


def gen_ensemble(work: str, shape: str, seed: int) -> dict:
    return _cached(work, "ensemble", shape, seed, _build_ensemble)


def _build_ensemble(d: str, rng, p: dict) -> dict:
    import pandas as pd

    from res2df_spark.sources.eclbin import write_summary

    months = _months(p["n_months"])
    wells = [f"OP_{w + 1}" for w in range(p["n_wells"])]
    vectors = [f"{k}:{w}" for w in wells for k in W_KEYS] + list(F_KEYS)
    values = np.empty((p["n_real"], len(months), len(vectors)), dtype=np.float32)
    for r in range(p["n_real"]):
        values[r] = np.abs(np.cumsum(
            rng.normal(1.0, 0.5, (len(months), len(vectors))), axis=0))
        rd = os.path.join(d, f"realization-{r}", "eclipse", "model")
        os.makedirs(rd)
        write_summary(os.path.join(rd, f"{CASE_NAME}-{r}.SMSPEC"), START,
                      pd.DataFrame(values[r], index=pd.DatetimeIndex(months),
                                   columns=vectors))
    problems = []
    _read_back_summary(os.path.join(rd, f"{CASE_NAME}-{r}"),
                       pd.DataFrame(values[r], index=pd.DatetimeIndex(months), columns=vectors),
                       problems)
    if problems:
        raise RuntimeError(f"generated ensemble does not read back: {problems}")
    return {"shape": p, "dates": months, "vectors": vectors, "values": values}


# ---------------------------------------------------------------------------
# TPC-H-shaped tables for the analytics suite
# ---------------------------------------------------------------------------

_WORDS = ("join hash row batch scan column customer filter small slow merge "
          "order vector line table data agg value key stream window a spark "
          "part group big sort query fast the").split()


def gen_tables(work: str, shape: str, seed: int) -> dict:
    return _cached(work, "suite", shape, seed, _build_tables)


def _build_tables(d: str, rng, p: dict) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = p["sf"]
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), max(50, int(50_000 * sf)), max(50, int(50_000 * sf))

    def ts(days, base="1995-01-01"):
        return (np.datetime64(base, "us") + days.astype("timedelta64[D]")).astype("datetime64[us]")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
        "customer": {"c_custkey": np.arange(n_cust, dtype=np.int64),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                     "c_acctbal": money(-999.99, 9999.99, n_cust),
                     "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                                 "HOUSEHOLD", "MACHINERY"], n_cust)},
        "supplier": {"s_suppkey": np.arange(n_supp, dtype=np.int64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                     "s_acctbal": money(-999.99, 9999.99, n_supp)},
    }
    adj = ["small", "large", "red", "blue", "hot", "old", "shiny", "green"]
    noun = ["ring", "plate", "widget", "rod", "bolt", "gear", "valve", "pipe"]
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    tables["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail,
    }
    odays = rng.integers(0, 2400, n_ord)
    tables["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": ts(odays),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord),
    }
    lok = rng.integers(0, n_ord, n_line)
    lpk = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    # unique line numbers per order: rank within the order
    order = np.argsort(lok, kind="stable")
    lnum = np.empty(n_line, dtype=np.int32)
    sk = lok[order]
    first = np.r_[0, np.flatnonzero(np.diff(sk)) + 1]
    run = np.repeat(first, np.diff(np.r_[first, n_line]))
    lnum[order] = (np.arange(n_line) - run + 1).astype(np.int32)
    tables["lineitem"] = {
        "l_orderkey": lok.astype(np.int64),
        "l_partkey": lpk.astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[lpk] * rng.uniform(0.02, 2.3, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": ts(np.clip(odays[lok] + rng.integers(-2400, 2480, n_line), 1, 2499)),
    }
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    tables["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]")),
        "user_id": rng.integers(0, max(10, int(15_000 * sf)), n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    texts = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(8, 110)))))
    tables["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    emb = rng.normal(0, 1, (n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    }
    rows = {}
    for name, cols in tables.items():
        t = pa.table({c: (v if isinstance(v, pa.Array) else pa.array(v))
                      for c, v in cols.items()})
        pq.write_table(t, os.path.join(d, f"{name}.parquet"))
        rows[name] = t.num_rows
    return {"shape": p, "rows": rows}


GENERATORS = {"case": gen_case, "ensemble": gen_ensemble, "suite": gen_tables}

if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())  # the engine's writers, from the checkout root
    work, shape, seed, *kinds = sys.argv[1:]
    for kind in kinds:
        GENERATORS[kind](work, shape, int(seed))
