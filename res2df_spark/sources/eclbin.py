"""Pure-numpy reader/writer for Eclipse-format binary files (SMSPEC,
UNSMRY, EGRID, INIT, UNRST, RFT) and their Spark ingest paths.

Closes SURVEY.md §2 rows S2–S6 at the *file* layer (the reference
delegates to a native reader library; see summary.py:350-398,
grid.py:287-473 for the semantics reproduced here).  The format itself
is public: big-endian Fortran sequential ("unformatted") records —
each record framed by int32 byte-length markers — carrying
(keyword, count, type) headers followed by data blocks of at most
1000 numeric / 105 string elements per record.  Element types:

    INTE int32   REAL float32   DOUB float64   LOGI int32 (0 = false)
    CHAR 8-byte strings          C0NN NN-byte strings      MESS empty

Scale design: one Eclipse file is small (MBs–GBs) but ensembles are
many files; the distributed path maps one file → one task via Spark's
``binaryFile`` source + ``mapInPandas`` (Arrow-batched), yielding long
rows with a REAL (realization) column extracted from the path.  All
per-file decode is vectorized numpy — no per-element Python loops on
the hot path.
"""

from __future__ import annotations

import datetime
import os
import re
import struct
from collections.abc import Iterator

import numpy as np

_NUMERIC_BLOCK = 1000
_STRING_BLOCK = 105

_DTYPES = {
    b"INTE": (np.dtype(">i4"), 4),
    b"REAL": (np.dtype(">f4"), 4),
    b"DOUB": (np.dtype(">f8"), 8),
    b"LOGI": (np.dtype(">i4"), 4),
}


class EclFormatError(ValueError):
    pass


# ---------------------------------------------------------------------------
# Low-level record stream
# ---------------------------------------------------------------------------


def iter_keywords(
    buf: bytes, want: set[str] | None = None
) -> Iterator[tuple[str, str, np.ndarray]]:
    """Yield (keyword, type, values) from an Eclipse binary buffer.

    values: numpy array — int32 for INTE, float32 REAL, float64 DOUB,
    bool LOGI, fixed-width unicode for CHAR/C0NN, empty array for MESS.

    ``want`` (optional): only decode and yield keywords in this set;
    other keywords' data records are walked marker-by-marker but never
    copied or decoded — a header-only scan of an EGRID skips the
    multi-MB ZCORN/COORD numeric decode entirely.
    """
    pos, n = 0, len(buf)
    while pos < n:
        if n - pos < 24:
            raise EclFormatError(f"truncated keyword header at byte {pos}")
        (rlen,) = struct.unpack_from(">i", buf, pos)
        if rlen != 16:
            raise EclFormatError(f"expected 16-byte keyword header, got {rlen} at {pos}")
        kw = buf[pos + 4 : pos + 12]
        (count,) = struct.unpack_from(">i", buf, pos + 12)
        typ = buf[pos + 16 : pos + 20]
        (tail,) = struct.unpack_from(">i", buf, pos + 20)
        if tail != 16:
            raise EclFormatError(f"unbalanced header markers at {pos}")
        pos += 24
        keyword = kw.decode("ascii", "replace").rstrip()
        tname = typ.decode("ascii", "replace")
        skip = want is not None and keyword not in want
        if typ == b"MESS" or count == 0:
            if not skip:
                yield keyword, tname, np.empty(0)
            continue
        if count < 0:
            raise EclFormatError(f"X231 extension (count={count}) not supported")
        if typ in _DTYPES:
            dt, esize = _DTYPES[typ]
            block = _NUMERIC_BLOCK
        elif typ == b"CHAR":
            dt, esize, block = None, 8, _STRING_BLOCK
        elif typ[:1] == b"C" and typ[1:].isdigit():
            dt, esize, block = None, int(typ[1:]), _STRING_BLOCK
        else:
            raise EclFormatError(f"unknown element type {typ!r} for {keyword!r}")
        chunks = []
        remaining = count
        while remaining > 0:
            take = min(remaining, block)
            if n - pos < 8 + take * esize:
                raise EclFormatError(f"{keyword}: truncated data record at {pos}")
            (rlen,) = struct.unpack_from(">i", buf, pos)
            if rlen != take * esize:
                raise EclFormatError(
                    f"{keyword}: data record of {rlen} bytes, expected {take * esize}"
                )
            if not skip:
                chunks.append(buf[pos + 4 : pos + 4 + rlen])
            (tail,) = struct.unpack_from(">i", buf, pos + 4 + rlen)
            if tail != rlen:
                raise EclFormatError(f"{keyword}: unbalanced data markers at {pos}")
            pos += 8 + rlen
            remaining -= take
        if skip:
            continue
        raw = b"".join(chunks)
        if dt is not None:
            arr = np.frombuffer(raw, dtype=dt).astype(dt.newbyteorder("="))
            if typ == b"LOGI":
                arr = arr != 0
        else:
            arr = np.frombuffer(raw, dtype=f"S{esize}")
            # "replace", not strict: a corrupt byte in one name must not
            # crash the whole scan (EclFormatError covers structure)
            arr = np.char.decode(np.char.rstrip(arr), "ascii", "replace")
        yield keyword, tname, arr


def read_keywords(path: str) -> list[tuple[str, str, np.ndarray]]:
    with open(path, "rb") as f:
        return list(iter_keywords(f.read()))


def write_keyword(out, keyword: str, typ: str, values) -> None:
    """Append one keyword (header + blocked data records) to a binary
    stream ``out`` — the writer half (K7) used for fixtures and the
    DataFrame→UNSMRY sink; byte-exact round-trips with iter_keywords."""
    t = typ.encode("ascii")
    if t in _DTYPES:
        dt, esize = _DTYPES[t]
        arr = np.asarray(values)
        if t == b"LOGI":
            arr = np.where(np.asarray(values, dtype=bool), np.int32(-1), np.int32(0))
        arr = arr.astype(dt)
        raw_items = [arr[i : i + _NUMERIC_BLOCK].tobytes() for i in range(0, len(arr), _NUMERIC_BLOCK)]
        count, block = len(arr), _NUMERIC_BLOCK
    elif t == b"MESS":
        raw_items, count, esize = [], 0, 0
    elif t == b"CHAR" or (t[:1] == b"C" and t[1:].isdigit()):
        esize = 8 if t == b"CHAR" else int(t[1:])
        svals = [str(v).ljust(esize)[:esize].encode("ascii") for v in values]
        raw_items = [
            b"".join(svals[i : i + _STRING_BLOCK]) for i in range(0, len(svals), _STRING_BLOCK)
        ]
        count = len(svals)
    else:
        raise EclFormatError(f"unknown element type {typ!r}")
    out.write(struct.pack(">i", 16))
    out.write(keyword.ljust(8)[:8].encode("ascii"))
    out.write(struct.pack(">i", count))
    out.write(t.ljust(4)[:4])
    out.write(struct.pack(">i", 16))
    for raw in raw_items:
        out.write(struct.pack(">i", len(raw)))
        out.write(raw)
        out.write(struct.pack(">i", len(raw)))


# ---------------------------------------------------------------------------
# SMSPEC + UNSMRY → long summary rows
# ---------------------------------------------------------------------------


def _block_ijk(num: int, nx: int, ny: int) -> str:
    n = num - 1
    return f"{n % nx + 1},{n // nx % ny + 1},{n // (nx * ny) + 1}"


def smspec_vector_names(
    keywords: np.ndarray, wgnames: np.ndarray, nums: np.ndarray, nx: int, ny: int
) -> list[str | None]:
    """Compose the reference's colon-joined vector names
    (summary.py:347-398 semantics): W*/G* append the well/group name,
    B* the i,j,k of the NUMS global index, C* both, R*/A* the region
    or aquifer number, S* well and segment; F* and misc stay bare.
    Invalid/dummy entries (blank or ':+:+:+:+' names where one is
    required, non-positive NUMS) yield None."""
    out: list[str | None] = []
    for kw, wg, num in zip(keywords, wgnames, nums):
        kw = str(kw).strip()
        wg = str(wg).strip()
        bad_wg = wg in ("", ":+:+:+:+")
        first = kw[:1]
        if not kw:
            out.append(None)
        elif first in ("W", "G") and kw not in ("WNEWTON",):
            out.append(None if bad_wg else f"{kw}:{wg}")
        elif first == "C":
            out.append(None if bad_wg or num <= 0 else f"{kw}:{wg}:{_block_ijk(num, nx, ny)}")
        elif first == "B":
            out.append(None if num <= 0 else f"{kw}:{_block_ijk(num, nx, ny)}")
        elif first == "S" and kw not in ("STEPTYPE",):
            out.append(None if bad_wg or num <= 0 else f"{kw}:{wg}:{num}")
        elif first == "R":
            out.append(f"{kw}:{num}" if num > 0 else None)
        elif first == "A":
            out.append(f"{kw}:{num}" if num > 0 else None)
        else:
            out.append(kw)
    return out


def parse_smspec(buf: bytes) -> dict:
    kws: dict = {}
    for k, _t, v in iter_keywords(buf):
        kws.setdefault(k, v)  # keep-first on duplicated sections, like the EGRID reader
    missing = {"DIMENS", "STARTDAT", "KEYWORDS", "NUMS", "UNITS"} - set(kws)
    if missing:
        raise EclFormatError(f"SMSPEC missing sections: {sorted(missing)}")
    dims = kws["DIMENS"]
    if len(dims) < 3:
        raise EclFormatError("SMSPEC DIMENS too short")
    nx, ny = int(dims[1]), int(dims[2])
    start = kws["STARTDAT"]
    if len(start) < 3:
        raise EclFormatError("SMSPEC STARTDAT too short")
    micro = int(start[5]) if len(start) >= 6 else 0
    startdate = datetime.datetime(
        int(start[2]), int(start[1]), int(start[0]),
        int(start[3]) if len(start) >= 4 else 0,
        int(start[4]) if len(start) >= 5 else 0,
        micro // 1_000_000, micro % 1_000_000,
    )
    names = kws.get("WGNAMES", kws.get("NAMES"))
    if names is None:
        # legal for field/misc-only cases; per-entity vectors then have
        # no name to attach and resolve to None
        names = np.array([""] * len(kws["KEYWORDS"]))
    vectors = smspec_vector_names(
        kws["KEYWORDS"], names, kws["NUMS"].astype(np.int64), nx, ny
    )
    units = [str(u).strip() for u in kws["UNITS"]]
    # RESTART: the parent case this run restarted from, stored as the
    # basename split into consecutive CHAR*8 chunks (resdata joins the
    # chunks; the reference's include_restart stitches that parent's
    # history in front of this run).  Chunks come back per-element
    # rstripped, so joining reassembles any path without literal spaces.
    restart = None
    if "RESTART" in kws:
        joined = "".join(str(s) for s in kws["RESTART"]).strip()
        restart = joined or None
    return {"startdate": startdate, "vectors": vectors, "units": units,
            "nx": nx, "ny": ny, "restart": restart}


def parse_unsmry(buf: bytes) -> list[np.ndarray]:
    """All PARAMS vectors (one float32 row per ministep)."""
    return [v for k, _t, v in iter_keywords(buf) if k == "PARAMS"]


def summary_long_pandas(smspec_buf: bytes, unsmry_buf: bytes, meta: dict | None = None):
    """(DATE, VECTOR, VALUE) pandas frame for one run — dates derive
    from the TIME vector (days since STARTDAT).  Duplicate vector
    entries (seen in malformed SMSPECs) keep the first occurrence.
    ``meta`` accepts an already-parsed :func:`parse_smspec` result so
    callers that need the meta anyway (the restart-chain walker) parse
    the SMSPEC once."""
    import pandas as pd

    if meta is None:
        meta = parse_smspec(smspec_buf)
    params = parse_unsmry(unsmry_buf)
    if not params:
        return pd.DataFrame({"DATE": [], "VECTOR": [], "VALUE": []})
    mat = np.vstack(params).astype(np.float64)
    vectors = meta["vectors"]
    try:
        time_idx = vectors.index("TIME")
    except ValueError:
        raise EclFormatError("SMSPEC has no TIME vector")
    days = mat[:, time_idx]
    dates = np.array(meta["startdate"], dtype="datetime64[us]") + (
        days * 86_400_000_000
    ).astype("timedelta64[us]")
    keep, seen = [], set()
    for i, v in enumerate(vectors):
        if v is not None and v != "TIME" and v not in seen:
            keep.append(i)
            seen.add(v)
    nstep = mat.shape[0]
    return pd.DataFrame(
        {
            "DATE": np.repeat(dates, len(keep)),
            "VECTOR": np.tile(np.array([vectors[i] for i in keep], dtype=object), nstep),
            "VALUE": mat[:, keep].ravel(),
        }
    )


def _summary_long_chain_pandas(
    smspec_path: str, unsmry_path: str | None, include_restart: bool,
    _seen: frozenset = frozenset(),
):
    """Long pandas frame for one run, optionally with its restart chain
    stitched in front (the reference's ``include_restart`` — resdata's
    ecl_sum restart loading): the SMSPEC ``RESTART`` keyword names the
    parent case; the parent's history STRICTLY BEFORE this run's first
    date is prepended, recursively up the chain.  The parent path
    resolves relative to the child SMSPEC's directory.  A missing
    parent warns and continues with the child alone (a moved ensemble
    must not fail outright); a cycle in the chain raises."""
    if unsmry_path is None:
        unsmry_path = os.path.splitext(smspec_path)[0] + ".UNSMRY"
    with open(smspec_path, "rb") as f:
        smspec = f.read()
    with open(unsmry_path, "rb") as f:
        unsmry = f.read()
    # parse once: the meta feeds both the long frame and the RESTART
    # chain walk (a wide SMSPEC rebuilds tens of thousands of vector
    # names — no reason to do it twice per chain level)
    meta = parse_smspec(smspec)
    pdf = summary_long_pandas(smspec, unsmry, meta=meta)
    if not include_restart:
        return pdf
    restart = meta.get("restart")
    if not restart:
        return pdf
    import pandas as pd

    key = os.path.realpath(smspec_path)
    if key in _seen:
        raise EclFormatError(
            f"restart chain cycle at {smspec_path} (RESTART={restart!r})"
        )
    parent_root = os.path.normpath(
        os.path.join(os.path.dirname(os.path.abspath(smspec_path)), restart)
    )
    parent_smspec = parent_root + ".SMSPEC"
    # BOTH halves must exist — a present SMSPEC with a missing UNSMRY
    # (partially copied ensemble) must degrade the same way, not crash
    # in the recursive open()
    missing = [
        ext for ext in ("SMSPEC", "UNSMRY")
        if not os.path.isfile(f"{parent_root}.{ext}")
    ]
    if missing:
        import warnings

        warnings.warn(
            f"include_restart: parent case {parent_root!r} (from "
            f"{smspec_path}) has no {'/'.join(missing)} — returning "
            "this run's own history only",
            RuntimeWarning,
            stacklevel=2,
        )
        return pdf
    parent = _summary_long_chain_pandas(
        parent_smspec, None, True, _seen | {key}
    )
    if len(pdf):
        # resdata semantics: the parent contributes history strictly
        # before the child's first report only — the child owns its own
        # time range even where the parent simulated past the restart
        parent = parent[parent["DATE"] < pdf["DATE"].min()]
    return pd.concat([parent, pdf], ignore_index=True)


def summary_long(spark, smspec_path: str, unsmry_path: str | None = None,
                 include_restart: bool = False):
    """Single-run driver-side parse → Spark DataFrame (the ensemble
    path is ``summary_long_many``).  ``include_restart`` stitches the
    restart-chain parents' history in front (reference summary.py:299,
    resdatafiles.py:134-149 ``get_summary(include_restart=...)``)."""
    pdf = _summary_long_chain_pandas(smspec_path, unsmry_path, include_restart)
    return spark.createDataFrame(pdf, schema="DATE timestamp, VECTOR string, VALUE double")


def summary_meta(spark, smspec_path: str):
    """Vector metadata dim straight from the SMSPEC UNITS array
    (reference summary.py:567-599) — '/DAY' units ⇒ rate, the
    authoritative classification the CLI resample path should prefer
    over the pure name heuristic."""
    from res2df_spark.modules.summary import meta_from_units

    with open(smspec_path, "rb") as f:
        meta = parse_smspec(f.read())
    return meta_from_units(spark, meta["vectors"], meta["units"])


def _local_path(path: str) -> str | None:
    """Local filesystem path of a ``binaryFile`` path: a plain path (a
    single-letter scheme is a Windows drive, not a URI) or a ``file:``
    URI, unquoted.  None for any other scheme."""
    from urllib.parse import unquote, urlparse

    parsed = urlparse(path)
    if parsed.scheme == "file":
        return unquote(parsed.path)
    return path if len(parsed.scheme) <= 1 else None


def summary_long_many(spark, root_glob: str):
    """Distributed ensemble ingest: every ``*.SMSPEC`` under the glob
    becomes one task that parses its run and emits long rows tagged
    with REAL (realization id from a ``realization-N`` / ``real-N``
    path segment, else the file stem).

    ``binaryFile`` gives (path, content) rows — one whole file per
    row — so partitioning is per-file and the cluster scales with the
    ensemble size; decode is numpy inside ``mapInPandas`` (Arrow).

    NOTE (like ``asof_join``'s span scan): this runs one EAGER Spark
    job at CALL time — the missing-UNSMRY warning collects the
    ensemble-sized path list to the driver so it fires driver-side
    (an executor ``warnings.warn`` never reaches the user).  The list
    is one row per realization, trivially small, but callers composing
    fully-lazy pipelines should know plan construction touches the
    filesystem here.  The driver-side check covers local/``file:``
    paths only — the reader is local-filesystem-by-contract, and on any
    other scheme the executor raises ``NotImplementedError`` anyway, so
    an object-store ensemble fails loudly rather than losing its
    crashed-run warning."""
    import pandas as pd

    files = spark.read.format("binaryFile").load(root_glob)
    files = files.filter(files["path"].endswith(".SMSPEC")).select("path", "content")
    # Missing-UNSMRY check on the DRIVER, over the (ensemble-sized,
    # tiny) path list: a warnings.warn inside mapInPandas fires on the
    # executor Python worker and never reaches the user, so a crashed
    # run would silently shrink the ensemble — exactly what the skip
    # exists to surface.  The reader is local-filesystem-by-contract
    # (the scheme guard below), so the driver sees the same files.
    missing = []
    for (path,) in files.select("path").collect():
        local = _local_path(path)
        if local is None:
            continue  # the worker raises NotImplementedError for these
        if not os.path.exists(os.path.splitext(local)[0] + ".UNSMRY"):
            missing.append(path)
    if missing:
        import warnings

        warnings.warn(
            f"skipping {len(missing)} realization(s) with no UNSMRY "
            f"sibling (crashed runs?): {sorted(missing)[:5]}"
            + (" ..." if len(missing) > 5 else ""),
            RuntimeWarning,
            stacklevel=2,
        )
        files = files.filter(~files["path"].isin(missing))

    def parse(batches):
        for pdf in batches:
            for path, smspec in zip(pdf["path"], pdf["content"]):
                local = _local_path(path)
                if local is None:
                    from urllib.parse import urlparse

                    raise NotImplementedError(
                        f"summary_long_many resolves sibling UNSMRY files "
                        f"via the local filesystem; got scheme "
                        f"{urlparse(path).scheme!r} ({path}) — copy the "
                        f"ensemble locally or extend this reader"
                    )
                unsmry = os.path.splitext(local)[0] + ".UNSMRY"
                if not os.path.exists(unsmry):
                    # LOUDLY skip: a crashed run's SMSPEC without its
                    # UNSMRY must not silently shrink the ensemble —
                    # downstream statistics would look complete while
                    # missing a realization (case.py raises in the
                    # single-case analogue; an ensemble reader warns
                    # and carries on with the runs that finished)
                    import warnings

                    warnings.warn(
                        f"skipping realization with no UNSMRY sibling: "
                        f"{local}",
                        RuntimeWarning,
                        stacklevel=2,
                    )
                    continue
                with open(unsmry, "rb") as f:
                    ubuf = f.read()
                out = summary_long_pandas(bytes(smspec), ubuf)
                # segment boundary before 'real': 'montreal-5' or
                # 'boreal3' must not be read as a realization id
                m = re.search(r"(?:^|[^A-Za-z0-9])real(?:ization)?[-_]?(\d+)", local)
                out["REAL"] = m.group(1) if m else os.path.splitext(os.path.basename(local))[0]
                yield out
            if len(pdf) == 0:
                yield pd.DataFrame({"DATE": [], "VECTOR": [], "VALUE": [], "REAL": []})

    return files.repartition("path").mapInPandas(
        parse, schema="DATE timestamp, VECTOR string, VALUE double, REAL string"
    )


def write_summary(smspec_path: str, start: datetime.datetime, wide) -> None:
    """K7 reverse writer (reference summary.py:602-689): a wide pandas
    frame (DatetimeIndex, one column per vector) → SMSPEC + UNSMRY
    pair.  Vector names are split back into KEYWORDS/WGNAMES/NUMS."""
    vectors = list(wide.columns)
    # grid dims must cover every B*/C* block address so NUMS round-trips
    ijks = [
        tuple(int(x) for x in str(v).split(":")[-1].split(","))
        for v in vectors
        if re.fullmatch(r"\d+,\d+,\d+", str(v).split(":")[-1])
    ]
    nx = max((t[0] for t in ijks), default=1)
    ny = max((t[1] for t in ijks), default=1)
    nz = max((t[2] for t in ijks), default=1)
    keywords, wgnames, nums = ["TIME"], [":+:+:+:+"], [0]
    for v in vectors:
        parts = str(v).split(":")
        keywords.append(parts[0])
        # parts[1] is a NUMS payload only when it is ALL digits (region/
        # aquifer number) or an i,j,k triple (block address); a merely
        # digit-LEADING token is a legal well name ('1AH') and must
        # round-trip as the WGNAME.  Well/group families (W*/G*/S*)
        # NEVER carry a bare-number payload in slot 1 — their vectors
        # are named — so an all-digit token there is a well literally
        # named '12' and must stay a WGNAME, not become NUMS.
        fam = parts[0][:1].upper() if parts[0] else ""
        wg = parts[1] if len(parts) > 1 else ""
        wg_is_num = (
            wg.isdigit() and fam not in ("W", "G", "S")
        ) or bool(re.fullmatch(r"\d+,\d+,\d+", wg))
        wgnames.append(wg if wg and not wg_is_num else ":+:+:+:+")
        last = parts[-1]
        if re.fullmatch(r"\d+,\d+,\d+", last):
            i, j, k = (int(x) for x in last.split(","))
            nums.append((i - 1) + nx * (j - 1) + nx * ny * (k - 1) + 1)
        elif last.isdigit() and (len(parts) > 2 or wg_is_num):
            # a digit LAST token is NUMS only when it wasn't already
            # consumed as the well/group name (WOPR:12 for well '12')
            nums.append(int(last))
        else:
            nums.append(0)
    with open(smspec_path, "wb") as f:
        write_keyword(f, "INTEHEAD", "INTE", [1, 100])
        write_keyword(f, "DIMENS", "INTE", [len(keywords), nx, ny, nz, 0, -1])
        write_keyword(f, "KEYWORDS", "CHAR", keywords)
        write_keyword(f, "WGNAMES", "CHAR", wgnames)
        write_keyword(f, "NUMS", "INTE", nums)
        write_keyword(f, "UNITS", "CHAR", [""] * len(keywords))
        write_keyword(
            f, "STARTDAT", "INTE",
            [start.day, start.month, start.year, start.hour, start.minute,
             start.second * 1_000_000 + start.microsecond],
        )
    with open(os.path.splitext(smspec_path)[0] + ".UNSMRY", "wb") as f:
        for step, (ts, row) in enumerate(wide.iterrows()):
            days = (ts.to_pydatetime() - start).total_seconds() / 86400.0
            if step == 0:
                write_keyword(f, "SEQHDR", "INTE", [0])
            write_keyword(f, "MINISTEP", "INTE", [step])
            write_keyword(f, "PARAMS", "REAL", [days] + [float(x) for x in row.to_numpy()])


# ---------------------------------------------------------------------------
# EGRID → per-active-cell geometry
# ---------------------------------------------------------------------------


def _egrid_global(egrid_buf: bytes, want: set[str]) -> dict:
    """First value of each keyword in an EGRID's GLOBAL section.

    LGR-bearing EGRIDs repeat GRIDHEAD/COORD/ZCORN/ACTNUM/NNC1/NNC2 per
    local grid and the global grid always comes first, so the scan stops
    at the second GRIDHEAD: a fully-active global grid (no ACTNUM)
    cannot pick up an LGR section's wrong-length mask, and LGR-local NNC
    indices are never decoded against global dims.  Only GRIDHEAD and
    the ``want`` keywords are decoded (:func:`iter_keywords`)."""
    kws: dict = {}
    seen_gridhead = False
    for k, _t, v in iter_keywords(egrid_buf, want=want | {"GRIDHEAD"}):
        if k == "GRIDHEAD":
            if seen_gridhead:
                break
            seen_gridhead = True
        kws.setdefault(k, v)
    return kws


#: Cell budget per geometry K-slab (~1 KB transient per cell inside a
#: slab) — module-level so tests can force the multi-slab path.
_GEOM_SLAB_CELLS = 2_000_000


def grid_geometry_pandas(egrid_buf: bytes):
    """Corner-point geometry → per-active-cell frame with the
    reference's grid columns (grid.py:287-345): 1-based I,J,K, center
    X,Y,Z, Z_MIN/Z_MAX, VOLUME, GLOBAL_INDEX (0-based natural order)
    and ACTIVE_INDEX (0-based among active cells — the explicit join
    key replacing the reference's significant row order).

    All-numpy: corner depths gathered from ZCORN (2nx·2ny·2nz, x
    fastest), x/y linearly interpolated along the 4 COORD pillars,
    volume via 6-tetrahedron decomposition around the 0–7 diagonal
    (exact for planar-faced cells)."""
    import pandas as pd

    kws = _egrid_global(egrid_buf, want={"COORD", "ZCORN", "ACTNUM"})
    gh = kws["GRIDHEAD"]
    nx, ny, nz = int(gh[1]), int(gh[2]), int(gh[3])
    coord = np.asarray(kws["COORD"], dtype=np.float64).reshape(ny + 1, nx + 1, 6)
    zcorn = np.asarray(kws["ZCORN"], dtype=np.float64).reshape(2 * nz, 2 * ny, 2 * nx)
    actnum = (
        np.asarray(kws["ACTNUM"], dtype=np.int64)
        if "ACTNUM" in kws and len(kws["ACTNUM"])
        else np.ones(nx * ny * nz, dtype=np.int64)
    )

    # K-SLAB processing: the fully-vectorized form materializes ~10
    # (cells, 8[, 6]) float64 intermediates at once (~1 KB/cell — a
    # 10M-cell full-field EGRID would transient ~10 GB on the driver);
    # looping over bounded K-slabs runs the IDENTICAL per-cell
    # arithmetic with the transient capped at ~slab_cells KB while the
    # persistent output stays ~80 B/cell.
    slab_layers = max(1, int(_GEOM_SLAB_CELLS // max(nx * ny, 1)))
    tets = [(0, 1, 3, 7), (0, 3, 2, 7), (0, 2, 6, 7), (0, 6, 4, 7), (0, 4, 5, 7), (0, 5, 1, 7)]
    cx = np.array([0, 1, 0, 1, 0, 1, 0, 1])
    cy = np.array([0, 0, 1, 1, 0, 0, 1, 1])
    cz = np.array([0, 0, 0, 0, 1, 1, 1, 1])
    act_mask = actnum.ravel() != 0
    parts: list[dict] = []
    for k0 in range(0, nz, slab_layers):
        k1 = min(k0 + slab_layers, nz)
        k_i, j_i, i_i = np.meshgrid(
            np.arange(k0, k1), np.arange(ny), np.arange(nx), indexing="ij"
        )
        # corner c = cx + 2*cy + 4*cz ; arrays shaped (slab,ny,nx,8)
        zc = zcorn[
            2 * k_i[..., None] + cz, 2 * j_i[..., None] + cy, 2 * i_i[..., None] + cx
        ]
        pil = coord[j_i[..., None] + cy, i_i[..., None] + cx]  # (slab,ny,nx,8,6)
        x1, y1, z1 = pil[..., 0], pil[..., 1], pil[..., 2]
        x2, y2, z2 = pil[..., 3], pil[..., 4], pil[..., 5]
        dz = z2 - z1
        with np.errstate(divide="ignore", invalid="ignore"):
            t = np.where(np.abs(dz) > 1e-12, (zc - z1) / np.where(dz == 0, 1, dz), 0.0)
        xc = x1 + t * (x2 - x1)
        yc = y1 + t * (y2 - y1)
        del pil, x1, y1, z1, x2, y2, z2, dz, t

        pts = np.stack([xc, yc, zc], axis=-1)  # (slab,ny,nx,8,3)
        vol = np.zeros(pts.shape[:3])
        for a, b, c, d in tets:
            u = pts[..., b, :] - pts[..., a, :]
            v = pts[..., c, :] - pts[..., a, :]
            w = pts[..., d, :] - pts[..., a, :]
            vol += np.einsum("...i,...i->...", u, np.cross(v, w)) / 6.0
        vol = np.abs(vol)
        del pts

        glob = (i_i + nx * j_i + nx * ny * k_i).ravel()
        active = act_mask[glob]
        # glob is the identity arange offset by the slab start (i varies
        # fastest in the C-order ravel), so glob[active] is already
        # ascending; the O(n) monotonicity check keeps a fallback if
        # the meshgrid convention ever changes
        ga = glob[active]
        if len(ga) > 1 and not np.all(np.diff(ga) > 0):  # pragma: no cover
            order = np.argsort(ga, kind="stable")
            ga = ga[order]

            def pick(a, active=active, order=order):
                return a.ravel()[active][order]

        else:

            def pick(a, active=active):
                return a.ravel()[active]

        parts.append(
            {
                "I": pick(i_i) + 1,
                "J": pick(j_i) + 1,
                "K": pick(k_i) + 1,
                "X": pick(xc.mean(axis=-1)),
                "Y": pick(yc.mean(axis=-1)),
                "Z": pick(zc.mean(axis=-1)),
                "Z_MIN": pick(zc.min(axis=-1)),
                "Z_MAX": pick(zc.max(axis=-1)),
                "VOLUME": pick(vol),
                "GLOBAL_INDEX": ga,
            }
        )

    cols = ["I", "J", "K", "X", "Y", "Z", "Z_MIN", "Z_MAX", "VOLUME",
            "GLOBAL_INDEX"]
    if not parts:  # degenerate nz == 0 header
        # per-column dtypes must match the populated path (int64 index
        # columns, float64 geometry) — a bare np.array([]) is float64
        # everywhere, a schema inconsistency for empty-grid inputs
        int_cols = {"I", "J", "K", "GLOBAL_INDEX"}
        df = pd.DataFrame(
            {
                c: np.array([], dtype=np.int64 if c in int_cols else np.float64)
                for c in cols
            }
        )
    else:
        df = pd.DataFrame(
            {c: np.concatenate([p[c] for p in parts]) for c in cols}
        )
    df["ACTIVE_INDEX"] = np.arange(len(df), dtype=np.int64)
    return df


def grid_geometry(spark, egrid_path: str):
    with open(egrid_path, "rb") as f:
        pdf = grid_geometry_pandas(f.read())
    return spark.createDataFrame(pdf)


# ---------------------------------------------------------------------------
# INIT / UNRST per-cell vectors
# ---------------------------------------------------------------------------

_INTEHEAD_DAY, _INTEHEAD_MONTH, _INTEHEAD_YEAR = 64, 65, 66


def init_vectors_pandas(init_buf: bytes, nactive: int, nglobal: int, actnum=None):
    """Static per-cell properties (reference grid.py:411-473): keep
    float vectors whose length == nactive; PORV (global length) is
    mapped global→active via ACTNUM.  One column per keyword, one row
    per active cell (ACTIVE_INDEX key)."""
    import pandas as pd

    cols: dict[str, np.ndarray] = {}
    for k, typ, v in iter_keywords(init_buf):
        if typ not in ("REAL", "DOUB", "INTE"):
            continue
        if len(v) == nactive and k not in ("INTEHEAD", "LOGIHEAD"):
            cols.setdefault(k, np.asarray(v, dtype=np.float64))
        elif k == "PORV" and len(v) == nglobal and actnum is not None:
            cols["PORV"] = np.asarray(v, dtype=np.float64)[np.asarray(actnum) != 0]
    df = pd.DataFrame(cols)
    df.insert(0, "ACTIVE_INDEX", np.arange(nactive, dtype=np.int64))
    return df


def unrst_vectors_pandas(unrst_buf: bytes, nactive: int, dates="all", vectors=None):
    """Dynamic per-cell vectors at selected report steps
    (grid.py:40-123,149-284): ``dates`` is the reference's mnemonic —
    'first' | 'last' | 'all' | ISO date string / datetime.date —
    resolved against each step's INTEHEAD day/month/year.  Returns
    long-ish wide frame keyed by (DATE, ACTIVE_INDEX)."""
    import pandas as pd

    steps: list[dict] = []
    cur: dict | None = None
    for k, typ, v in iter_keywords(unrst_buf):
        if k == "SEQNUM":
            cur = {"_arrays": {}}
            steps.append(cur)
        elif cur is not None:
            if k == "INTEHEAD":
                cur["date"] = datetime.date(
                    int(v[_INTEHEAD_YEAR]), int(v[_INTEHEAD_MONTH]), int(v[_INTEHEAD_DAY])
                )
            elif typ in ("REAL", "DOUB") and len(v) == nactive:
                if vectors is None or k in vectors:
                    cur["_arrays"].setdefault(k, np.asarray(v, dtype=np.float64))
    # a step truncated before its INTEHEAD (writer killed mid-report) has
    # no date and no usable arrays — skip it rather than KeyError below
    steps = [s for s in steps if "date" in s]
    if not steps:
        return pd.DataFrame()
    def _as_date(d):
        # datetime.datetime IS a datetime.date, but date.__eq__ against
        # a datetime is always False — normalize to the date part or a
        # datetime argument could never match any step
        if isinstance(d, datetime.datetime):
            return d.date()
        if isinstance(d, datetime.date):
            return d
        return datetime.date.fromisoformat(str(d))

    avail = [str(s["date"]) for s in steps]
    if dates == "first":
        steps = steps[:1]
    elif dates == "last":
        steps = steps[-1:]
    elif isinstance(dates, (list, tuple, set)):
        # case.grid(rstdates=[...]) passes a list of dates — select all
        # matching steps (str(list) would otherwise hit fromisoformat
        # with an unparseable repr)
        wanted = {_as_date(d) for d in dates}
        steps = [s for s in steps if s.get("date") in wanted]
    elif dates != "all":
        want = _as_date(dates)
        steps = [s for s in steps if s.get("date") == want]
    if not steps:
        # the reference raises 'date ... not found in UNRST file'
        # (grid.py:94) — mirror that instead of letting pd.concat([])
        # throw its cryptic 'No objects to concatenate'
        raise ValueError(
            f"date {dates!r} not found in UNRST file (available: {avail})"
        )
    frames = []
    for s in steps:
        df = pd.DataFrame(s["_arrays"])
        df.insert(0, "ACTIVE_INDEX", np.arange(nactive, dtype=np.int64))
        df.insert(0, "DATE", pd.Timestamp(s["date"]))
        frames.append(df)
    return pd.concat(frames, ignore_index=True)


def grid_table(spark, egrid_path: str, init_path: str | None = None,
               unrst_path: str | None = None, rstdates=None,
               vectors="*", stackdates: bool = True,
               dateinheaders: bool = False, dropconstants: bool = False):
    """The reference's ``grid.df()`` composition (grid.py:476-536):
    geometry ⋈ INIT on ACTIVE_INDEX, optionally ⋈ UNRST.  Equi-joins on
    the explicit index — never row order.

    ``vectors`` — glob pattern (or list of patterns) selecting INIT and
    UNRST property columns (grid.py:494-496); geometry/index columns are
    always kept.  When SWAT and SGAS are both selected and SOIL is
    absent, the three-phase SOIL = 1-SWAT-SGAS convenience column is
    added if ``'SOIL'`` matches ``vectors`` (grid.py:250-256).

    ``stackdates`` — the ENGINE default is True (restart vectors stack
    under a DATE column: the Spark-native long shape every downstream
    module consumes), the OPPOSITE of the reference API default; the
    CLI maps the reference's flags (default wide, ``--stackdates`` to
    stack).  With ``stackdates=False`` each selected date becomes its
    own set of columns, tagged ``NAME@YYYY-MM-DD`` when
    ``dateinheaders`` or more than one date is selected
    (grid.py:258-262) — plain names for a single untagged date.

    ``dropconstants`` — drop single-valued columns
    (:func:`res2df_spark.modules.grid.drop_constant_columns`, one eager
    probe job)."""
    with open(egrid_path, "rb") as f:
        ebuf = f.read()
    geo_pdf = grid_geometry_pandas(ebuf)
    # header-only re-scan: decodes just GRIDHEAD/ACTNUM, seeking past
    # the ZCORN/COORD blocks grid_geometry_pandas already decoded
    kws = _egrid_global(ebuf, want={"ACTNUM"})
    gh = kws["GRIDHEAD"]
    nactive, nglobal = len(geo_pdf), int(gh[1]) * int(gh[2]) * int(gh[3])
    actnum = (
        np.asarray(kws["ACTNUM"]) if "ACTNUM" in kws and len(kws["ACTNUM"])
        else np.ones(nglobal, dtype=np.int64)
    )
    import fnmatch

    pats = [vectors] if isinstance(vectors, str) else list(vectors)

    def _vec_match(name: str) -> bool:
        return any(fnmatch.fnmatch(name, p) for p in pats)

    df = spark.createDataFrame(geo_pdf)
    if init_path:
        with open(init_path, "rb") as f:
            ini = init_vectors_pandas(f.read(), nactive, nglobal, actnum)
        ini = ini[
            ["ACTIVE_INDEX"]
            + [c for c in ini.columns if c != "ACTIVE_INDEX" and _vec_match(c)]
        ]
        if len(ini.columns) > 1:
            df = df.join(spark.createDataFrame(ini), "ACTIVE_INDEX", "left")
    if unrst_path and rstdates is not None:
        with open(unrst_path, "rb") as f:
            rst = unrst_vectors_pandas(f.read(), nactive, dates=rstdates)
        if len(rst):
            keep = [
                c for c in rst.columns
                if c not in ("DATE", "ACTIVE_INDEX") and _vec_match(c)
            ]
            # three-phase SOIL convenience column (grid.py:250-256):
            # only from SELECTED saturations, like the reference (it
            # computes from the already-vector-filtered rst frame)
            if (
                "SWAT" in keep and "SGAS" in keep
                and "SOIL" not in keep and _vec_match("SOIL")
            ):
                rst = rst.copy()
                rst["SOIL"] = 1.0 - rst["SWAT"] - rst["SGAS"]
                keep.append("SOIL")
            rst = rst[["DATE", "ACTIVE_INDEX"] + keep]
            if not keep:
                pass  # nothing selected: no restart join at all
            elif stackdates:
                df = df.join(spark.createDataFrame(rst), "ACTIVE_INDEX", "left")
            else:
                # reference wide shape: one column set per date,
                # '@'-tagged when dateinheaders or multiple dates
                # (grid.py:258-262, 278-279).  The per-date frames are
                # the same driver-side pandas the stacked path builds —
                # the joins stay ACTIVE_INDEX equi-joins.
                import pandas as pd

                from res2df_spark.operators.reshape import dated_header

                dates = sorted(rst["DATE"].unique())
                tag = dateinheaders or len(dates) > 1
                for d in dates:
                    sub = rst[rst["DATE"] == d].drop(columns=["DATE"])
                    if tag:
                        sub = sub.rename(columns={
                            c: dated_header(c, pd.Timestamp(d)) for c in keep
                        })
                    df = df.join(
                        spark.createDataFrame(sub), "ACTIVE_INDEX", "left"
                    )
    if dropconstants:
        from res2df_spark.modules.grid import drop_constant_columns

        df = drop_constant_columns(df)
    return df


# ---------------------------------------------------------------------------
# RFT → per-connection rows
# ---------------------------------------------------------------------------


def rft_pandas(rft_buf: bytes):
    """Binary RFT surveys → long frame (DATE, WELL, CONIDX, I, J, K +
    per-connection vectors DEPTH/PRESSURE/SWAT/SGAS...).  Survey
    boundary = TIME keyword (reference rft.py works from the same
    record grouping, S6)."""
    import pandas as pd

    surveys: list[dict] = []
    cur: dict | None = None
    for k, typ, v in iter_keywords(rft_buf):
        if k == "TIME":
            cur = {"_arrays": {}}
            surveys.append(cur)
        elif cur is None:
            continue
        elif k == "DATE" and len(v) >= 3:
            cur["date"] = datetime.date(int(v[2]), int(v[1]), int(v[0]))
        elif k == "WELLETC" and len(v) >= 2:
            cur["well"] = str(v[1]).strip()
        elif typ in ("REAL", "DOUB", "INTE") and k.startswith(("CON", "DEPTH", "PRESSURE", "SWAT", "SGAS")):
            cur["_arrays"][k] = np.asarray(v, dtype=np.float64)
    frames = []
    for s in surveys:
        arrays = s["_arrays"]
        ncon = max((len(a) for a in arrays.values()), default=0)
        cols = {k: a for k, a in arrays.items() if len(a) == ncon}
        if not cols:
            continue
        df = pd.DataFrame(cols)
        for c in ("CONIPOS", "CONJPOS", "CONKPOS"):
            if c in df:
                df[c] = df[c].astype(np.int64)
        df.insert(0, "CONIDX", np.arange(ncon, dtype=np.int64))
        df.insert(0, "WELL", s.get("well", ""))
        df.insert(0, "DATE", pd.Timestamp(s.get("date", datetime.date(1900, 1, 1))))
        frames.append(df)
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()


def rft_table(spark, rft_path: str):
    with open(rft_path, "rb") as f:
        return spark.createDataFrame(rft_pandas(f.read()))


# ---------------------------------------------------------------------------
# NNC → connection pairs
# ---------------------------------------------------------------------------


def nnc_table(spark, egrid_path: str, init_path: str | None = None):
    """Non-neighbour connections (reference nnc.py:37-110): EGRID
    NNC1/NNC2 1-based global indices → (I1, J1, K1, I2, J2, K2), plus
    TRAN from the INIT file's TRANNNC vector when available (aligned
    elementwise with the NNC pair list)."""
    import pandas as pd

    with open(egrid_path, "rb") as f:
        ebuf = f.read()
    # header-only scan: ZCORN/COORD are irrelevant to the NNC pair list
    kws = _egrid_global(ebuf, want={"NNC1", "NNC2"})
    nx = ny = 0
    if "GRIDHEAD" in kws:
        nx, ny = int(kws["GRIDHEAD"][1]), int(kws["GRIDHEAD"][2])
    if "NNC1" not in kws or "NNC2" not in kws or nx == 0:
        return spark.createDataFrame(
            [], "I1 int, J1 int, K1 int, I2 int, J2 int, K2 int, TRAN double"
        )

    def ijk(g):
        g0 = g - 1
        return (
            (g0 % nx + 1).astype(np.int32),
            (g0 // nx % ny + 1).astype(np.int32),
            (g0 // (nx * ny) + 1).astype(np.int32),
        )

    i1, j1, k1 = ijk(np.asarray(kws["NNC1"], dtype=np.int64))
    i2, j2, k2 = ijk(np.asarray(kws["NNC2"], dtype=np.int64))
    pdf = pd.DataFrame(
        {"I1": i1, "J1": j1, "K1": k1, "I2": i2, "J2": j2, "K2": k2}
    )
    pdf["TRAN"] = np.nan
    if init_path:
        with open(init_path, "rb") as f:
            for k, _t, v in iter_keywords(f.read()):
                if k == "TRANNNC" and len(v) == len(pdf):
                    pdf["TRAN"] = np.asarray(v, dtype=np.float64)
                    break
    return spark.createDataFrame(
        pdf, schema="I1 int, J1 int, K1 int, I2 int, J2 int, K2 int, TRAN double"
    )
