"""Seeded input generator for the benchmark workloads.

Every value is a pure function of (seed, row id, column salt), so the same
seed gives byte-identical tables, a different seed gives different tables,
and a churn version k holds exactly the rows its case window names.

OMM tables follow the proportions of the repository's scale probe
(`ScaleProbe.genOmm`): one affected departure per case plus a second,
later `deleted` row for 20% of cases (dedup work), 10% of cases a
cancellation-of-cancellation (NULL valid_to, departure `deleted`), 10%
stale (valid_to in the past), 1% replaced journeys, 0.5% NULL direction
GIDs, 1000 bulletins with a Finnish message each and a Swedish copy for
half of them. Timestamps are OMM-zone wall clock written as INT96, the
way Spark itself writes them.

Text batches for the n-gram workload are Zipf-like over a fixed
vocabulary; training docs have ids not divisible by 5 and the held-out
docs ids divisible by 5, the split `Vocab.stupidBackoffNll` uses.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)

# OMM-zone wall clock of the first poll; later polls advance by POLL_STEP_S.
NOW0 = np.datetime64("2024-05-15T12:00:00", "s")
POLL_STEP_S = 30
N_BULLETINS = 1000

TABLES = ["deviation_cases", "affected_departures",
          "bulletin_localized_messages", "bulletins", "DatedVehicleJourney",
          "VehicleJourney", "VehicleJourneyTemplate", "KeyVariantValue",
          "KeyVariantType", "KeyType", "ObjectType"]


def _mix(seed, ids, salt):
    """splitmix64 of (seed, id, salt), vectorised over `ids`."""
    with np.errstate(over="ignore"):
        x = (np.uint64(seed & 0xFFFFFFFF) * np.uint64(0x9E3779B97F4A7C15)
             + np.asarray(ids, dtype=np.uint64) * np.uint64(0xBF58476D1CE4E5B9)
             + np.uint64(salt) * np.uint64(0x94D049BB133111EB)) & _M64
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def unif(seed, ids, salt):
    """Uniform [0, 1) per id."""
    return (_mix(seed, ids, salt) >> np.uint64(11)).astype(np.float64) / 2.0 ** 53


def _ts(seconds_from_epoch):
    return np.asarray(seconds_from_epoch, dtype="int64").astype("datetime64[s]") \
        .astype("datetime64[us]")


def _write(table, path):
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"),
                   use_deprecated_int96_timestamps=True)


def omm_tables(seed, cases, churn_block=None):
    """The 11 OMM tables for the given case ids.

    `churn_block` set: case c belongs to block c // churn_block and stays
    valid until poll number block (its valid_to falls between that poll's
    `now` and the next); no case is stale. Unset: the static proportions.
    """
    c = np.asarray(cases, dtype=np.int64)
    n = len(c)
    kind = unif(seed, c, 1)
    coc = kind < 0.10                      # cancellation-of-cancellation
    stale = (kind >= 0.10) & (kind < 0.20)
    if churn_block:
        valid_to = NOW0 + (c // churn_block * POLL_STEP_S + POLL_STEP_S // 2) \
            .astype("timedelta64[s]")
    else:
        valid_to = np.where(stale, np.datetime64("2024-05-01T00:00:00", "s"),
                            np.datetime64("2024-06-01T00:00:00", "s"))
    valid_to = valid_to.astype("datetime64[us]")
    base = 1715000000
    dc = pa.table({
        "deviation_case_id": pa.array(c),
        "bulletin_id": pa.array(
            21 + (unif(seed, c, 2) * N_BULLETINS).astype(np.int64)),
        "valid_from": pa.array(np.full(n, np.datetime64("2024-05-01T00:00:00", "us"))),
        "valid_to": pa.array(valid_to, mask=coc),
        "type": pa.array(np.full(n, "CANCEL_DEPARTURE")),
        "last_modified": pa.array(
            _ts(base + (unif(seed, c, 3) * 2592000).astype(np.int64))),
    })
    dep = c + 600000000
    doubled = unif(seed, c, 5) < 0.20
    ad_case = np.concatenate([c, c[doubled]])
    ad = pa.table({
        "deviation_case_id": pa.array(ad_case),
        "departure_id": pa.array(np.concatenate([dep, dep[doubled]])),
        "status": pa.array(np.concatenate([
            np.where(coc, "deleted", "active"),
            np.full(int(doubled.sum()), "deleted")])),
        "type": pa.array(np.full(len(ad_case), "CANCEL_ENTIRE_DEPARTURE")),
        "last_modified": pa.array(np.concatenate([
            _ts(base + 700000 + (unif(seed, c, 4) * 86400).astype(np.int64)),
            _ts(base + 710000 +
                (unif(seed, c[doubled], 6) * 86400).astype(np.int64))])),
    })
    b_ids = np.arange(21, 21 + N_BULLETINS, dtype=np.int64)
    bulletins = pa.table({
        "bulletins_id": pa.array(b_ids),
        "category": pa.array(np.full(N_BULLETINS, "VEHICLE_BREAKDOWN")),
        "sub_category": pa.array(np.full(N_BULLETINS, "BREAK_MALFUNCTION")),
    })
    sv_ids = b_ids[: N_BULLETINS // 2]
    blm = pa.table({
        "bulletins_id": pa.array(np.concatenate([b_ids, sv_ids])),
        "language_code": pa.array(
            ["fi"] * N_BULLETINS + ["sv"] * len(sv_ids)),
        "title": pa.array([f"Peruttu {i}" for i in b_ids] +
                          [f"Inställd {i}" for i in sv_ids]),
        "description": pa.array([f"Kuvaus {i}" for i in b_ids] +
                                [f"Text {i}" for i in sv_ids]),
    })
    replaced = unif(seed, c, 8) < 0.01
    dvj = pa.table({
        "Id": pa.array(dep),
        "OperatingDayDate": pa.array(
            (np.datetime64("2024-05-14", "D") +
             (unif(seed, c, 7) * 5).astype("timedelta64[D]")), pa.date32()),
        "IsBasedOnVehicleJourneyId": pa.array(c + 500000000),
        "IsBasedOnVehicleJourneyTemplateId": pa.array(c + 700000000),
        "IsReplacedById": pa.array(np.full(n, 999, dtype=np.int64),
                                   mask=~replaced),
        "PlannedStartOffsetDateTime": pa.array(
            np.datetime64("1900-01-01T00:00:00", "us") +
            (unif(seed, c, 9) * 1800).astype(np.int64)
            .astype("timedelta64[m]").astype("timedelta64[us]")),
    })
    vj = pa.table({"Id": pa.array(c + 500000000)})
    dir_digit = (_mix(seed, c, 12) % np.uint64(2) + np.uint64(1)).astype(np.int64)
    line = (_mix(seed, c, 13) % np.uint64(10000)).astype(np.int64)
    gid = np.char.add(np.char.add("12345678901", dir_digit.astype(str)),
                      np.char.zfill(line.astype(str), 4))
    vjt = pa.table({
        "Id": pa.array(c + 700000000),
        "IsWorkedOnDirectionOfLineGid": pa.array(
            gid, mask=unif(seed, c, 10) < 0.005),
    })
    kvv = pa.table({
        "IsForObjectId": pa.array(c + 500000000),
        "IsOfKeyVariantTypeId": pa.array(np.full(n, 13, dtype=np.int64)),
        "StringValue": pa.array(np.char.add(
            "Route ", (unif(seed, c, 11) * 500).astype(np.int64).astype(str))),
    })
    kvt = pa.table({"Id": pa.array([13], pa.int64()),
                    "IsForKeyTypeId": pa.array([3], pa.int64())})
    kt = pa.table({"Id": pa.array([3, 4], pa.int64()),
                   "ExtendsObjectTypeNumber": pa.array([100, 100], pa.int32()),
                   "Name": pa.array(["RouteName", "SomeOtherKey"])})
    ot = pa.table({"Number": pa.array([100, 200], pa.int32()),
                   "Name": pa.array(["VehicleJourney", "Route"])})
    return dict(zip(TABLES, [dc, ad, blm, bulletins, dvj, vj, vjt, kvv,
                             kvt, kt, ot]))


def write_omm(out_dir, tables):
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))


# Per table, the column that names its case and that column's offset from
# the case id; the other tables hold no per-case rows.
_CASE_KEY = {
    "deviation_cases": ("deviation_case_id", 0),
    "affected_departures": ("deviation_case_id", 0),
    "DatedVehicleJourney": ("Id", 600000000),
    "VehicleJourney": ("Id", 500000000),
    "VehicleJourneyTemplate": ("Id", 700000000),
    "KeyVariantValue": ("IsForObjectId", 500000000),
}


def churn_window(n_cases, block, k):
    """Case ids present in churn version k: the live window
    [k*block, k*block + n_cases) plus the block that expired at poll k."""
    return max(0, (k - 1) * block), k * block + n_cases


def gen_omm(out_dir, seed, n_cases):
    write_omm(out_dir, omm_tables(seed, np.arange(n_cases)))


def gen_churn(versions_dir, seed, n_cases, n_versions, share=0.05):
    """Versions v0 .. v{n_versions-1} of a table set whose case window moves
    by `share` of `n_cases` per poll. Each version equals
    `omm_tables(seed, window, block)` of its window."""
    block = max(1, int(n_cases * share))
    full = omm_tables(seed, np.arange(churn_window(n_cases, block,
                                                   n_versions - 1)[1]), block)
    for k in range(n_versions):
        lo, hi = churn_window(n_cases, block, k)
        tables = {}
        for name, t in full.items():
            if name in _CASE_KEY:
                col, off = _CASE_KEY[name]
                case = t.column(col).to_numpy() - off
                t = t.filter(pa.array((case >= lo) & (case < hi)))
            tables[name] = t
        write_omm(os.path.join(versions_dir, f"v{k}"), tables)
    return block


def _docs(seed, ids, vocab, zipf_s, min_len, max_len):
    rng = np.random.default_rng([seed & 0xFFFFFFFF, int(ids[0]) & 0xFFFFFFFF,
                                 len(ids)])
    p = 1.0 / np.arange(1, vocab + 1) ** zipf_s
    cdf = np.cumsum(p / p.sum())
    lens = rng.integers(min_len, max_len + 1, size=len(ids))
    words = np.minimum(np.searchsorted(cdf, rng.random(int(lens.sum()))),
                       vocab - 1)
    toks = np.char.add("w", words.astype(str))
    cuts = np.cumsum(lens)[:-1]
    return pa.table({"id": pa.array(np.asarray(ids, dtype=np.int64)),
                     "text": pa.array([" ".join(d) for d in
                                       np.split(toks, cuts)])})


def gen_text(out_dir, seed, n_batches, batch_docs, held_docs,
             vocab=20000, zipf_s=1.1, min_len=20, max_len=60):
    """`b<k>.parquet` training batches and `held.parquet` held-out docs."""
    for k in range(n_batches):
        first = k * batch_docs * 5 // 4
        ids = np.arange(first, first + batch_docs * 5 // 4 + 8)
        ids = ids[ids % 5 != 0][:batch_docs]
        _write(_docs(seed, ids, vocab, zipf_s, min_len, max_len),
               os.path.join(out_dir, f"b{k}.parquet"))
    held = 1_000_000_000 + 5 * np.arange(held_docs, dtype=np.int64)
    _write(_docs(seed, held, vocab, zipf_s, min_len, max_len),
           os.path.join(out_dir, "held.parquet"))

