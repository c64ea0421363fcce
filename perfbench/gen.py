"""Seeded input generators for the three benchmark workloads.

Each generator writes files only (the program under test receives
nothing else) plus a ``manifest.json`` holding the values the
correctness checks expect. Output is cached per (workload, seed)
under the work directory and is byte-identical for a given
seed: every random draw comes from one ``numpy`` generator seeded by
``(seed, workload)``, CSV is written by hand with ``repr`` floats, and
parquet is written by pyarrow from in-memory tables (no clocks, no
pandas metadata).

Run directly to pre-build a cache entry:

    python3 perfbench/gen.py --workload corpus_curation --seed 7
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("daily_batch", "corpus_curation")

WAPE_DAYS = 14
WAPE_ZONES = ["ZONEA", "ZONEB", "ZONEC", "ZONED"]
WAPE_METERS_PER_ZONE = 10

ANON_FILES = 2  # alternately CSV and parquet
ANON_ROWS_PER_FILE = 5_000
ANON_CLIENT = "acme"
ANON_LABELS = [
    "Acme Power",
    "Acme Power Holdings",  # exercises the word-substring branch
    "Borealis Energy",
    "Cobalt Utilities",
    "Delta Grid",
]

CORPUS_STANDING = 240
CORPUS_DROP = 60
CORPUS_VOCAB = 5_000
CORPUS_DIM = 32
CORPUS_CLUSTERS = 16

# Every language's stopwords from operators.text.STOPWORDS: generated
# content words must never collide with one, so language_id is exact.
_ALL_STOPWORDS = {
    "the", "and", "of", "to", "a", "in", "is", "it", "for", "with",
    "der", "die", "das", "und", "ist", "ein", "nicht", "mit", "auf", "für",
    "el", "la", "los", "de", "que", "y", "en", "un", "es", "por",
    "le", "les", "et", "est", "pour", "dans",
}
_EN_STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "it", "for", "with"]


def _rng(seed: int, workload: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(workload.encode())])


def _write_csv(path: str, columns: list[str], rows) -> None:
    def cell(v) -> str:
        if v is None:
            return ""
        if isinstance(v, float):
            return repr(v)
        return str(v)

    with open(path, "w", encoding="utf-8", newline="\n") as fh:
        fh.write(",".join(columns) + "\n")
        for row in rows:
            fh.write(",".join(cell(v) for v in row) + "\n")


def _write_parquet(path: str, table: pa.Table) -> None:
    pq.write_table(table, path, compression="snappy")


def tree_bytes(path: str) -> int:
    """Size of a file, or of every file under a directory."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for base, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(base, name))
    return total


# ---------------------------------------------------------------------------
# wape_report
# ---------------------------------------------------------------------------


def expected_wape(f, b, s, zonal: bool):
    """NumPy WAPE from per-meter arrays shaped (day, hour, zone, meter):
    sum meters (and zones unless ``zonal``) to the hour, take absolute
    errors, sum hours to the day, then divide. Returns
    (mape_f, mape_b, abs_f, abs_b, abs_s) shaped (day,) or (day, zone)."""
    axes = (3,) if zonal else (2, 3)
    fh, bh, sh = (x.sum(axis=axes) for x in (f, b, s))
    abs_f = np.abs(fh - sh).sum(axis=1)
    abs_b = np.abs(bh - sh).sum(axis=1)
    abs_s = np.abs(sh).sum(axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        return abs_f / abs_s, abs_b / abs_s, abs_f, abs_b, abs_s


def _wape_family(rng, shape, zero_day: int, zero_pair_day: int):
    days, hours = shape[0], shape[1]
    profile = 1.0 + 0.5 * np.sin(np.arange(hours) / hours * 2 * np.pi)
    base = rng.uniform(0.5, 5.0, size=shape[2:])  # per (zone, meter)
    s = base[None, None] * profile[None, :, None, None] * rng.uniform(
        0.8, 1.2, size=shape
    )
    f = s * (1.0 + rng.normal(0.0, 0.10, size=shape))
    b = s * (1.0 + rng.normal(0.0, 0.08, size=shape))
    f, b, s = (np.round(np.clip(x, 0.0, None), 3) for x in (f, b, s))
    # scattered per-meter rows with forecast == backcast == 0
    zero_rows = rng.random(shape) < 0.01
    f[zero_rows] = 0.0
    b[zero_rows] = 0.0
    # an all-zero settlement day (WAPE undefined → dropped) and a day
    # whose forecast and backcast are both zero (zero-pair filter)
    s[zero_day] = 0.0
    f[zero_pair_day] = 0.0
    b[zero_pair_day] = 0.0
    assert days > max(zero_day, zero_pair_day)
    return f, b, s


def _expected_sheet(families, zonal: bool, zones: list[str]) -> dict:
    """Expected surviving rows of one daily sheet, keyed ``"<day>"``
    (portfolio) or ``"<day>:<zone>"`` (zonal), each holding
    ``{family: [forecast_mape, backcast_mape]}``. Mirrors the drop
    rules: a row goes when any family's WAPE is undefined, or when a
    forecast/backcast pair (the sums, or their abs errors) is zero in
    both members."""
    axes = (1, 3) if zonal else (1, 2, 3)
    keep = None
    wapes = {}
    for name, (f, b, s) in families:
        mf, mb, af, ab, _as = expected_wape(f, b, s, zonal)
        fsum, bsum = f.sum(axis=axes), b.sum(axis=axes)
        ok = (
            np.isfinite(mf) & np.isfinite(mb)
            & ~((fsum == 0.0) & (bsum == 0.0))
            & ~((af == 0.0) & (ab == 0.0))
        )
        keep = ok if keep is None else keep & ok
        wapes[name] = (mf, mb)
    out: dict[str, dict] = {}
    for idx in zip(*np.nonzero(keep)):
        key = str(idx[0]) if not zonal else f"{idx[0]}:{zones[idx[1]]}"
        out[key] = {n: [float(mf[idx]), float(mb[idx])] for n, (mf, mb) in wapes.items()}
    return out


def gen_wape_report(out: str, seed: int) -> dict:
    rng = _rng(seed, "wape_report")
    days = WAPE_DAYS
    zones = WAPE_ZONES
    shape = (days, 24, len(zones), WAPE_METERS_PER_ZONE)
    zero_day, zero_pair_day = (int(x) for x in rng.choice(days, size=2, replace=False))
    dates = [
        str(np.datetime64("2024-05-01") + np.timedelta64(d, "D")) for d in range(days)
    ]

    ops = _wape_family(rng, shape, zero_day, zero_pair_day)
    jp = {
        "plain": _wape_family(rng, shape, zero_day, zero_pair_day),
        "gross": _wape_family(rng, shape, zero_day, zero_pair_day),
        "net": _wape_family(rng, shape, zero_day, zero_pair_day),
    }

    grid = np.indices(shape).reshape(4, -1)
    d_i, h_i, z_i, m_i = grid
    meter_ids = [f"M{z:02d}{m:04d}" for z, m in zip(z_i, m_i)]
    date_col = [dates[d] for d in d_i]
    zone_col = [zones[z] for z in z_i]

    f, b, s = (x.reshape(-1) for x in ops)
    _write_csv(
        os.path.join(out, "client_ops.csv"),
        ["proxy_date", "hour", "zone", "meter", "forecast", "backcast", "settlement"],
        zip(date_col, h_i.tolist(), zone_col, meter_ids, f.tolist(), b.tolist(), s.tolist()),
    )

    cols = {
        "proxy_date": pa.array(date_col, pa.string()),
        "hour": pa.array(h_i, pa.int32()),
        "zone": pa.array(zone_col, pa.string()),
        "meter": pa.array(meter_ids, pa.string()),
    }
    names = {
        "plain": ("forecast", "backcast", "settlement"),
        "gross": ("forecast_gross", "backcast_gross", "usage_final_gross"),
        "net": ("forecast_net", "backcast_net", "usage_final_net"),
    }
    for fam, arrays in jp.items():
        for col, arr in zip(names[fam], arrays):
            cols[col] = pa.array(arr.reshape(-1), pa.float64())
    _write_parquet(os.path.join(out, "client_jp.parquet"), pa.table(cols))

    return {
        "dates": dates,
        "zones": zones,
        "sheets": {
            "daily_portfolio_mape_ops": _expected_sheet([("forecast", ops)], False, zones),
            "daily_zonal_mape_ops": _expected_sheet([("forecast", ops)], True, zones),
            "daily_portfolio_mape_jp": _expected_sheet(
                [("forecast", jp["plain"]), ("forecast_gross", jp["gross"]),
                 ("forecast_net", jp["net"])], False, zones),
            "daily_zonal_mape_jp": _expected_sheet(
                [("forecast", jp["plain"]), ("forecast_gross", jp["gross"]),
                 ("forecast_net", jp["net"])], True, zones),
        },
    }


# ---------------------------------------------------------------------------
# anonymize_folder
# ---------------------------------------------------------------------------

SEEDED_PERSON = b"seeded-key"


def seeded_pseudonym(uid: str) -> str:
    """Pseudonyms of the pre-seeded key table. Deliberately NOT the
    product's digest, so a pass that recomputed a known uid instead of
    honouring the table is caught."""
    return hashlib.blake2b(uid.encode(), digest_size=5, person=SEEDED_PERSON).hexdigest()


_SCHEMA_C = [
    "CustomerCode", "ChargeID", "ChargeGroup", "ChargeName", "OperatingDate",
    "Amount", "Adj", "Version", "OperatingMonth", "ProcessDate", "uid",
]


def _schema_c_rows(rng, n: int, first_id: int, uid_pool: np.ndarray):
    labels = rng.choice(len(ANON_LABELS), size=n)
    groups = rng.choice(3, size=n)
    day = rng.integers(1, 29, size=n)
    amount = np.round(rng.uniform(-500.0, 5000.0, size=n), 2)
    adj = rng.random(n) < 0.3
    uids = uid_pool[rng.integers(0, len(uid_pool), size=n)]
    group_names = ["Transmission", "Energy", "Capacity"]
    cols = {
        "CustomerCode": [ANON_LABELS[i] for i in labels],
        "ChargeID": list(range(first_id, first_id + n)),
        "ChargeGroup": [group_names[g] for g in groups],
        "ChargeName": [f"{group_names[g]} Charge {g + 1}" for g in groups],
        "OperatingDate": [f"2024-05-{d:02d}" for d in day],
        "Amount": amount.tolist(),
        "Adj": ["ADJ" if a else None for a in adj],
        "Version": ["2024-06-01T00:00:00" for _ in range(n)],
        "OperatingMonth": ["2024-05-01" for _ in range(n)],
        "ProcessDate": ["2024-06-30" for _ in range(n)],
        "uid": uids.tolist(),
    }
    return cols


def gen_anonymize_folder(out: str, seed: int) -> dict:
    rng = _rng(seed, "anonymize_folder")
    rows = ANON_ROWS_PER_FILE
    pool_size = int(rows * ANON_FILES * 0.6)
    pool = np.array([f"U{x:08d}" for x in rng.choice(10**8, size=pool_size, replace=False)])

    decoy = os.path.join(out, "input", "2024-06-29")
    newest = os.path.join(out, "input", "2024-06-30")
    os.makedirs(decoy)
    os.makedirs(newest)
    decoy_cols = _schema_c_rows(rng, 100, 10**9, np.array(["DECOY0001", "DECOY0002"]))
    _write_csv(
        os.path.join(decoy, f"{ANON_CLIENT}_settlement_decoy.csv"),
        _SCHEMA_C,
        zip(*(decoy_cols[c] for c in _SCHEMA_C)),
    )

    files = []
    used: set[str] = set()
    for i in range(ANON_FILES):
        cols = _schema_c_rows(rng, rows, i * rows, pool)
        used.update(cols["uid"])
        if i % 2 == 0:
            name = f"{ANON_CLIENT}_settlement_{i:02d}.csv"
            _write_csv(os.path.join(newest, name), _SCHEMA_C, zip(*(cols[c] for c in _SCHEMA_C)))
        else:
            name = f"{ANON_CLIENT}_settlement_{i:02d}.parquet"
            types = {"ChargeID": pa.int64(), "Amount": pa.float64()}
            table = pa.table(
                {c: pa.array(cols[c], types.get(c, pa.string())) for c in _SCHEMA_C}
            )
            _write_parquet(os.path.join(newest, name), table)
        files.append({"name": name, "rows": rows})

    # Key table pre-seeded with half of the uids the newest folder uses.
    used_sorted = sorted(used)
    seeded = sorted(rng.choice(used_sorted, size=len(used_sorted) // 2, replace=False).tolist())
    os.makedirs(os.path.join(out, "key_seed"))
    _write_parquet(
        os.path.join(out, "key_seed", "key_uid.snappy.parquet"),
        pa.table({
            "uid": pa.array(seeded, pa.string()),
            "uid_": pa.array([seeded_pseudonym(u) for u in seeded], pa.string()),
        }),
    )
    return {
        "client": ANON_CLIENT,
        "files": files,
        "distinct_uids": len(used_sorted),
        "seeded_uids": len(seeded),
    }


# ---------------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------------


def _vocabulary(rng, size: int) -> tuple[list[str], np.ndarray]:
    """English stopwords on top of a Zipf(1.1) law over synthetic words
    (3–9 lowercase letters, never a stopword of any language)."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: list[str] = []
    seen = set(_ALL_STOPWORDS)
    while len(words) < size:
        w = "".join(rng.choice(letters, size=int(rng.integers(3, 10))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    vocab = _EN_STOPWORDS + words
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = ranks ** -1.1
    return vocab, p / p.sum()


def _doc(rng, vocab, p) -> str:
    n = int(rng.integers(80, 121))
    toks = [vocab[i] for i in rng.choice(len(vocab), size=n, p=p)]
    # at least two stopwords, so every ordinary doc is confidently 'en'
    for pos in rng.choice(n, size=2, replace=False):
        toks[pos] = _EN_STOPWORDS[int(rng.integers(0, len(_EN_STOPWORDS)))]
    return " ".join(toks) + "."


def _junk(rng, vocab) -> tuple[str, str]:
    """A junk document and the first quality gate it fails."""
    content = vocab[len(_EN_STOPWORDS):]
    if rng.random() < 0.5:
        return " ".join(content[i] for i in rng.integers(0, len(content), size=3)), "min_tokens"
    words = [content[i] for i in rng.integers(0, len(content), size=8)]
    # ≥ 6 of at most 16 characters per token are punctuation
    return " ".join(w + "!?!?!?" for w in words), "punct_ratio"


def _near_copy(rng, text: str) -> str:
    """Replace one letter inside one content word (≈0.95 char-5-gram
    Jaccard against the source, far above the 0.6 decision threshold
    and deep in the LSH S-curve's sure-catch region)."""
    toks = text.split(" ")
    while True:
        i = int(rng.integers(0, len(toks)))
        w = toks[i]
        if w.rstrip(".") not in _ALL_STOPWORDS and len(w) >= 4:
            break
    j = int(rng.integers(1, len(w.rstrip(".")) - 1))
    old = w[j]
    new = old
    while new == old:
        new = "abcdefghijklmnopqrstuvwxyz"[int(rng.integers(0, 26))]
    toks[i] = w[:j] + new + w[j + 1:]
    return " ".join(toks)


def _route(vecs: np.ndarray, cmat: np.ndarray):
    """Nearest centroid exactly as the routing UDF computes it, plus the
    distance gap to the runner-up."""
    score = (cmat * cmat).sum(axis=1)[None, :] - 2.0 * (vecs @ cmat.T)
    order = np.argsort(score, axis=1)
    rows = np.arange(len(vecs))
    return order[:, 0], score[rows, order[:, 1]] - score[rows, order[:, 0]]


def _near_vector(rng, v: np.ndarray, cmat: np.ndarray) -> np.ndarray:
    """A semantic duplicate of ``v`` (cosine ≈ 0.9998) routed to the same
    cell with a wide margin."""
    cell, _ = _route(v[None], cmat)
    for _ in range(1000):
        w = v + rng.normal(0.0, 0.02 * np.linalg.norm(v) / np.sqrt(len(v)), size=len(v))
        wc, gap = _route(w[None], cmat)
        if wc[0] == cell[0] and gap[0] > 1e-6:
            return w
    raise RuntimeError("could not place a semantic duplicate in its source cell")


def gen_corpus_curation(out: str, seed: int) -> dict:
    rng = _rng(seed, "corpus_curation")
    n_s, n_d = CORPUS_STANDING, CORPUS_DROP
    vocab, p = _vocabulary(rng, CORPUS_VOCAB)
    ids = np.arange(n_s + n_d)
    standing, drop = ids[:n_s], ids[n_s:]

    # Disjoint roles per doc, so each planted effect is counted once.
    def take(pool: list[int], k: int) -> list[int]:
        picked = rng.choice(len(pool), size=k, replace=False)
        chosen = [pool[i] for i in sorted(picked)]
        keep = set(chosen)
        pool[:] = [x for x in pool if x not in keep]
        return chosen

    s_pool, d_pool = standing.tolist(), drop.tolist()
    junk = take(s_pool, n_s // 20) + take(d_pool, n_d // 20)

    # near-duplicate families in the standing corpus: sizes 2–4
    n_fam = max(2, n_s // 25)
    sizes = rng.integers(2, 5, size=n_fam)
    nd_fams = [take(s_pool, int(k)) for k in sizes]
    # semantic families in the standing corpus: sizes 2–3
    n_sfam = max(2, n_s // 25)
    sem_fams = [take(s_pool, int(k)) for k in rng.integers(2, 4, size=n_sfam)]
    # drop: near-dups of standing docs, fresh near-dup pairs, semantic
    # dups of standing vectors, fresh semantic pairs
    n_x = max(2, n_d // 10)
    n_pair = max(2, n_d // 20)
    nd_new = take(d_pool, n_x)
    nd_new_pairs = [take(d_pool, 2) for _ in range(n_pair)]
    sem_new = take(d_pool, n_x)
    sem_new_pairs = [take(d_pool, 2) for _ in range(n_pair)]

    texts: dict[int, str] = {}
    for i in ids.tolist():
        texts[i] = _doc(rng, vocab, p)
    junk_gate = {}
    for i in junk:
        texts[i], junk_gate[i] = _junk(rng, vocab)
    for fam in nd_fams:
        for m in fam[1:]:
            texts[m] = _near_copy(rng, texts[fam[0]])
    for a, b in nd_new_pairs:
        texts[b] = _near_copy(rng, texts[a])
    # each drop near-dup copies a distinct standing family (or singleton)
    singles = [x for x in s_pool if x not in junk]
    targets_fam = rng.choice(len(nd_fams), size=min(len(nd_fams), n_x // 2), replace=False)
    targets = [nd_fams[int(t)] for t in targets_fam]
    targets += [[x] for x in rng.choice(singles, size=n_x - len(targets), replace=False).tolist()]
    for new_id, fam in zip(nd_new, targets):
        texts[new_id] = _near_copy(rng, texts[fam[0]])

    # vectors
    cmat = rng.normal(0.0, 1.0, size=(CORPUS_CLUSTERS, CORPUS_DIM))
    vecs = rng.normal(0.0, 1.0, size=(len(ids), CORPUS_DIM))
    for fam in sem_fams:
        for m in fam[1:]:
            vecs[m] = _near_vector(rng, vecs[fam[0]], cmat)
    for a, b in sem_new_pairs:
        vecs[b] = _near_vector(rng, vecs[a], cmat)
    sem_singles = [x for x in s_pool if x not in junk and x not in {t[0] for t in targets}]
    picked = rng.choice(len(sem_fams), size=min(len(sem_fams), n_x // 2), replace=False)
    sem_targets = [sem_fams[int(t)] for t in picked]
    sem_targets += [[x] for x in rng.choice(sem_singles, size=n_x - len(sem_targets), replace=False).tolist()]
    for new_id, fam in zip(sem_new, sem_targets):
        vecs[new_id] = _near_vector(rng, vecs[fam[0]], cmat)

    # No unplanted pair may come near the cosine threshold.
    planted = [set(f) for f in sem_fams if f not in sem_targets]
    planted += [set(pr) for pr in sem_new_pairs]
    planted += [set(fam) | {n} for n, fam in zip(sem_new, sem_targets)]
    fam_of = {m: f for f in planted for m in f}
    cells, _ = _route(vecs, cmat)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    for c in range(CORPUS_CLUSTERS):
        members = np.flatnonzero(cells == c)
        sims = unit[members] @ unit[members].T
        np.fill_diagonal(sims, 0.0)
        for i, j in zip(*np.nonzero(sims > 0.9)):
            a, b = int(members[i]), int(members[j])
            if b not in fam_of.get(a, ()):
                raise RuntimeError(f"unplanted semantic pair {a},{b}")

    def write_docs(name: str, sel: np.ndarray) -> None:
        _write_parquet(os.path.join(out, name), pa.table({
            "doc_id": pa.array(sel, pa.int64()),
            "text": pa.array([texts[i] for i in sel.tolist()], pa.string()),
        }))

    def write_vecs(name: str, sel: np.ndarray) -> None:
        _write_parquet(os.path.join(out, name), pa.table({
            "vec_id": pa.array(sel, pa.int64()),
            "embedding": pa.array(vecs[sel].tolist(), pa.list_(pa.float64())),
        }))

    write_docs("docs_standing.parquet", standing)
    write_docs("docs_drop.parquet", drop)
    write_vecs("vecs_standing.parquet", standing)
    write_vecs("vecs_drop.parquet", drop)
    _write_parquet(os.path.join(out, "centroids.parquet"), pa.table({
        "cluster": pa.array(np.arange(CORPUS_CLUSTERS), pa.int32()),
        "centroid": pa.array(cmat.tolist(), pa.list_(pa.float64())),
    }))

    def pairs_of(fam):
        return [[a, b] for k, a in enumerate(fam) for b in fam[k + 1:]]

    standing_pairs = sorted(p for fam in nd_fams for p in pairs_of(sorted(fam)))
    new_standing = sorted(
        sorted([new_id, m]) for new_id, fam in zip(nd_new, targets) for m in fam
    )
    new_new = sorted(sorted(pr) for pr in nd_new_pairs)
    nd_dropped = sorted({b for _a, b in standing_pairs} | set(nd_new) | {b for _a, b in new_new})
    return {
        "standing": n_s,
        "drop": n_d,
        "junk": sorted(junk),
        # documents each quality gate is the first to reject
        "gate_rejects": {g: sum(v == g for v in junk_gate.values()) for g in ("min_tokens", "punct_ratio")},
        "minhash_pairs": standing_pairs,
        "incremental_new_standing": new_standing,
        "incremental_new_new": new_new,
        "near_dup_dropped": nd_dropped,
        # SemDeDup keeps the member least typical of its cell, so only
        # "exactly one kept per family" is fixed in advance.
        "semantic_families": sorted(sorted(f) for f in sem_fams),
        "semantic_new_pairs": sorted(sorted(pr) for pr in sem_new_pairs),
        "semantic_new_dups": sorted(sem_new),
    }


def gen_daily_batch(out: str, seed: int) -> dict:
    """Both batch pipelines of the paper over one day's inputs."""
    expected = {}
    for name, fn in (("wape_report", gen_wape_report), ("anonymize_folder", gen_anonymize_folder)):
        os.makedirs(os.path.join(out, name))
        expected[name] = fn(os.path.join(out, name), seed)
    return expected


GENERATORS = {
    "daily_batch": gen_daily_batch,
    "corpus_curation": gen_corpus_curation,
}


def ensure_inputs(work: str, workload: str, seed: int) -> tuple[str, dict]:
    """Generate (or reuse) the inputs of one workload; returns the input
    directory and its manifest. Built in a temporary directory and
    renamed into place, so a cache entry is never half-written."""
    final = os.path.join(work, "inputs", f"{workload}-s{seed}")
    manifest_path = os.path.join(final, "manifest.json")
    if not os.path.exists(manifest_path):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        try:
            expected = GENERATORS[workload](tmp, seed)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        manifest = {
            "workload": workload,
            "seed": seed,
            "input_bytes": tree_bytes(tmp),
            "expected": expected,
        }
        with open(os.path.join(tmp, "manifest.json"), "w") as fh:
            json.dump(manifest, fh, sort_keys=True)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    with open(manifest_path) as fh:
        return final, json.load(fh)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--work", default=".perfbench")
    args = ap.parse_args()
    path, manifest = ensure_inputs(args.work, args.workload, args.seed)
    print(path, manifest["input_bytes"])


if __name__ == "__main__":
    main()
