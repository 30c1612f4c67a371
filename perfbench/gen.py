"""Seeded input generators for the benchmark workloads.

Every generator takes a ``seed`` and writes its files under an output
directory; the same seed (and sizes) gives byte-identical files. Each
returns a manifest of the counts its workload's output checks expect,
derived from what was generated rather than from the program under test.

* ``ghcn_corpus``   — fixed-width GHCN-D ``.dly`` files (one per station)
  plus ``stations.txt`` with the planted cases of FIXTURES.md B1/B2.
* ``star_schema``   — TPC-H-shaped parquet tables plus ``events`` with the
  schemas and value domains the registry queries are written against.
* ``documents``     — a text corpus with planted exact duplicates,
  near duplicates, off-language and too-short documents, split into a
  curation corpus, an ingest reference half and ingest micro-batches.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORE = ("TMAX", "TMIN", "PRCP", "SNOW", "SNWD")
NON_CORE = ("TOBS", "WT01")
_STATES = ("GA", "AL", "FL", "SC", "TN", "NC")


def _days_in_month(year: int, month: int) -> int:
    nxt = dt.date(year + month // 12, month % 12 + 1, 1)
    return (nxt - dt.date(year, month, 1)).days


def _write(path: str, data: bytes) -> None:
    with open(path, "wb") as fh:
        fh.write(data)


# ---------------------------------------------------------------- GHCN-D


def _element_values(rng, element: str, month: int, n: int) -> np.ndarray:
    """Plausible daily values in tenths (temps in 0.1 C, precip in 0.1 mm)."""
    season = np.cos((month - 7) / 12 * 2 * np.pi)  # 1 in July, -1 in January
    if element == "TMAX":
        return np.round(rng.normal(220 + 100 * season, 40, n)).astype(int)
    if element == "TMIN":
        return np.round(rng.normal(100 + 90 * season, 40, n)).astype(int)
    if element == "PRCP":
        wet = rng.random(n) < 0.35
        return np.where(wet, np.round(rng.gamma(1.2, 60, n)), 0).astype(int)
    if element in ("SNOW", "SNWD"):
        snowy = rng.random(n) < max(0.0, -season) * 0.3
        return np.where(snowy, np.round(rng.gamma(1.5, 30, n)), 0).astype(int)
    return rng.integers(0, 300, n)


def ghcn_corpus(
    out_dir: str, seed: int, n_stations: int = 60,
    years: tuple[int, ...] = (2019, 2020, 2021, 2022),
) -> dict:
    """Write ``dly/<ID>.dly`` per station and ``stations.txt``.

    Planted cases (FIXTURES.md B1/B2): every short month carries a VALUE
    in one impossible day slot of some TMAX lines (Feb 30 etc., dropped
    by the date guard), ~3% ``-9999`` slots, non-core elements on a third
    of the stations (dropped by the silver element filter), out-of-range
    TMAX/PRCP values (nulled by the silver bounds), and the last station
    has data but no metadata row (left-join NULL metadata).

    Manifest: expected bronze/silver/gold row counts and the input size.
    """
    rng = np.random.default_rng(seed)
    dly_dir = os.path.join(out_dir, "dly")
    os.makedirs(dly_dir, exist_ok=True)
    ids = [f"US{'C' if i % 2 else 'W'}{i:08d}" for i in range(n_stations)]
    bronze = 0
    silver_keys: set[tuple] = set()
    impossible_kept = 0
    nulled = 0
    for k, sid in enumerate(ids):
        elements = CORE + (NON_CORE if k % 3 == 0 else ())
        lines = []
        for year in years:
            for month in range(1, 13):
                dim = _days_in_month(year, month)
                for element in elements:
                    vals = _element_values(rng, element, month, 31)
                    missing = rng.random(31) < 0.03
                    if element in ("TMAX", "PRCP"):
                        bad = rng.random(31) < 0.004
                        vals = np.where(bad, 6000 if element == "TMAX" else 2500, vals)
                    vals = np.where(missing, -9999, vals)
                    plant = element == "TMAX" and dim < 31 and rng.random() < 0.5
                    slots = []
                    for d in range(31):
                        v = int(vals[d])
                        if d >= dim and not (plant and d == dim):
                            v = -9999
                        if v != -9999 and d < dim:
                            bronze += 1
                            if element in CORE:
                                silver_keys.add((sid, year, month, d + 1))
                                if element in ("TMAX", "PRCP") and v in (6000, 2500):
                                    nulled += 1
                        elif v != -9999:
                            impossible_kept += 1
                        slots.append(f"{v:5d}{' '}{' '}{'N' if v != -9999 else ' '}")
                    lines.append(f"{sid}{year:04d}{month:02d}{element:<4}" + "".join(slots))
        _write(os.path.join(dly_dir, f"{sid}.dly"), ("\n".join(lines) + "\n").encode())
    station_lines = []
    for k, sid in enumerate(ids[:-1]):  # the last station has no metadata row
        lat = 30.0 + rng.random() * 5
        lon = -85.0 + rng.random() * 5
        elev = rng.random() * 400
        state = _STATES[k % len(_STATES)]
        name = f"STATION {k:04d}"
        station_lines.append(
            f"{sid:<11} {lat:8.4f} {lon:9.4f} {elev:6.1f} {state:<2} {name:<30}"
            f"          US"
        )
    _write(os.path.join(out_dir, "stations.txt"), ("\n".join(station_lines) + "\n").encode())
    months = {(s, y, m) for s, y, m, _ in silver_keys}
    input_bytes = sum(
        os.path.getsize(os.path.join(dly_dir, f)) for f in os.listdir(dly_dir)
    ) + os.path.getsize(os.path.join(out_dir, "stations.txt"))
    return {
        "dly_dir": dly_dir,
        "stations": os.path.join(out_dir, "stations.txt"),
        "bronze_rows": bronze,
        "silver_rows": len(silver_keys),
        "monthly_rows": len(months),
        "yearly_rows": len({(s, y) for s, y, _ in months}),
        "normals_rows": len({(s, m) for s, _, m in months}),
        "orphan_monthly_rows": len({k for k in months if k[0] == ids[-1]}),
        "impossible_slots": impossible_kept,
        "out_of_range": nulled,
        "input_records": bronze,
        "input_bytes": input_bytes,
    }


# ----------------------------------------------------------- star schema


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts_days(base: dt.date, offsets: np.ndarray) -> pa.Array:
    epoch = (base - dt.date(1970, 1, 1)).days
    micros = (epoch + offsets.astype(np.int64)) * 86_400_000_000
    return pa.array(micros, type=pa.timestamp("us"))


def star_schema(out_dir: str, seed: int, scale: float = 0.1) -> dict:
    """TPC-H-shaped ``region nation customer supplier part orders
    lineitem`` plus ``events``, one parquet file each, with the schemas
    and value domains of FIXTURES.md section A. Row counts follow the
    TPC-H ratios at ``scale``. Manifest: row count per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_li = int(6_000_000 * scale)
    n_ev = int(1_000_000 * scale)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array(["large", "hot", "blue", "old", "cold", "red", "small", "new"])
    noun = np.array(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    names = np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                        noun[rng.integers(0, 8, n_part)])
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_days(dt.date(1995, 1, 1), order_day),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)],
    })
    li_order = rng.integers(0, n_ord, n_li)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(li_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": _money(rng, 900.5, 104999.9, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_days(
            dt.date(1995, 1, 1), order_day[li_order] + rng.integers(1, 96, n_li)
        ),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    ev_base = int((dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)).total_seconds()) * 10**6
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_base + ev_us, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n_ev // 66, 10), n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)
        ],
        "value": np.round(rng.exponential(60.0, n_ev).clip(0, 560.21), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {"dir": out_dir, "rows": {k: v.num_rows for k, v in tables.items()}}


# -------------------------------------------------------------- documents

_EN_STOP = ("the", "of", "and", "to", "a", "is", "that", "it", "for")
_ES_STOP = ("el", "la", "de", "y", "que", "un", "una", "es", "por")
_RESERVED = {
    "the", "a", "of", "and", "to", "in", "is", "that", "it", "for", "el", "la",
    "de", "y", "que", "en", "un", "una", "es", "por", "le", "et", "une", "est",
    "pour", "der", "die", "das", "und", "zu", "ist", "ein", "eine", "von", "be",
    "have", "with",
}


def _vocab(rng, n: int = 6000) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        w = "".join(letters[rng.integers(0, 26, rng.integers(4, 10))])
        if w not in seen and w not in _RESERVED:
            seen.add(w)
            out.append(w)
    return out


def _sentence_text(rng, vocab: list[str], n_words: int, stop=_EN_STOP) -> str:
    words = [stop[0]]  # every document carries a stopword of its language
    for i in range(1, n_words):
        if rng.random() < 0.3:
            words.append(stop[rng.integers(0, len(stop))])
        else:
            words.append(vocab[rng.integers(0, len(vocab))])
        if i % 12 == 11:
            words[-1] += "."
    return " ".join(words)


def normalize(text: str) -> str:
    """Python twin of ``operators.textops.normalize_text``."""
    t = re.sub(r"[^a-z0-9\s]", " ", text.lower())
    return re.sub(r"\s+", " ", t).strip()


def _perturb(rng, text: str, vocab: list[str], n_subs: int) -> str:
    """Near duplicate: replace ``n_subs`` content words, keep token count."""
    words = text.split(" ")
    picks = rng.choice(len(words), size=n_subs, replace=False)
    for p in picks:
        tail = "." if words[p].endswith(".") else ""
        words[p] = vocab[rng.integers(0, len(vocab))] + tail
    return " ".join(words)


def _chunks(n_tokens: int, chunk: int = 32, stride: int = 24) -> int:
    """Chunk count ``pipelines.corpus.chunk_documents`` makes of a doc."""
    return len(range(1, max(n_tokens, 1) + 1, stride)) if n_tokens else 0


def documents(
    out_dir: str,
    seed: int,
    n_corpus: int = 1000,
    n_ref: int = 600,
    n_batches: int = 2,
    batch_size: int = 150,
) -> dict:
    """Write ``corpus/documents.parquet`` (curation input),
    ``ingest/ref/documents.parquet`` (the gate's reference half) and
    ``ingest/batches/batch_<i>.parquet`` (micro-batches), all with the
    ``documents`` schema ``doc_id, text, lang, source, n_chars``.

    Curation corpus mix: 70% fresh English documents (20-140 words),
    8% exact copies of one of them (case and punctuation changed), 8%
    near copies (one word replaced), 2% documents carrying an e-mail
    address (redacted, kept), 7% Spanish and 5% too-short documents
    (both filtered out). Every planted copy has a distinct fresh
    original, so the expected funnel is known by construction.

    Ingest batch mix: per batch 40% clean fresh documents, 20% exact
    and 20% near copies of reference documents, 20% too short for the
    Gopher word-count rule.
    """
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng)

    # ---- curation corpus
    n_fresh = int(n_corpus * 0.70)
    n_exact = int(n_corpus * 0.08)
    n_near = int(n_corpus * 0.08)
    n_pii = int(n_corpus * 0.02)
    n_es = int(n_corpus * 0.07)
    n_short = n_corpus - n_fresh - n_exact - n_near - n_pii - n_es
    fresh = [_sentence_text(rng, vocab, int(rng.integers(20, 141))) for _ in range(n_fresh)]
    # near copies need >= 60 words so one replaced word keeps the word
    # 4-shingle Jaccard far above the pipeline's 0.5 threshold
    long_docs = [i for i, t in enumerate(fresh) if len(t.split()) >= 60]
    near_src = rng.choice(long_docs, size=n_near, replace=False)
    taken = set(near_src.tolist())
    exact_src = rng.choice([i for i in range(n_fresh) if i not in taken], size=n_exact,
                           replace=False)
    sources = np.concatenate([exact_src, near_src])
    rows: list[tuple[str, str]] = [(t, "en") for t in fresh]
    for s in exact_src:
        rows.append((fresh[s].upper().replace(".", "!"), "en"))
    for s in near_src:
        rows.append((_perturb(rng, fresh[s], vocab, 1), "en"))
    for i in range(n_pii):
        body = _sentence_text(rng, vocab, int(rng.integers(40, 100)))
        rows.append((f"{body} contact user{i}@example.com for the details", "en"))
    for _ in range(n_es):
        rows.append((_sentence_text(rng, vocab, int(rng.integers(20, 80)), _ES_STOP), "es"))
    for _ in range(n_short):
        rows.append((" ".join(vocab[j] for j in rng.integers(0, len(vocab), 4)), "en"))
    order = rng.permutation(len(rows))
    texts = [rows[i][0] for i in order]
    langs = [rows[i][1] for i in order]
    os.makedirs(os.path.join(out_dir, "corpus"), exist_ok=True)
    _write_docs(os.path.join(out_dir, "corpus", "documents.parquet"), 0, texts, langs, rng)

    # expected funnel: kept = English with >= 8 tokens; one survivor per
    # exact group (min id) and per near pair (min id)
    kept = [i for i, (t, lang) in enumerate(zip(texts, langs)) if lang == "en"
            and len(t.split()) >= 8]
    by_fp: dict[str, int] = {}
    for i in kept:
        fp = hashlib.md5(normalize(_redact(texts[i])).encode()).hexdigest()
        by_fp[fp] = min(by_fp.get(fp, i), i)
    exact_survivors = set(by_fp.values())
    pos = {int(o): k for k, o in enumerate(order)}  # row index -> doc_id
    near_drop = set()
    for j, s in enumerate(sources[n_exact:]):
        a, b = pos[int(s)], pos[n_fresh + n_exact + j]
        near_drop.add(max(a, b))
    survivors = exact_survivors - near_drop
    corpus_manifest = {
        "path": os.path.join(out_dir, "corpus"),
        "input_records": len(texts),
        "filtered": len(kept),
        "exact_deduped": len(exact_survivors),
        "survivors": len(survivors),
        "chunks": sum(_chunks(len(texts[i].split())) for i in survivors),
        "input_bytes": os.path.getsize(os.path.join(out_dir, "corpus", "documents.parquet")),
    }

    # ---- ingest: reference half + micro-batches
    ref = [_sentence_text(rng, vocab, int(rng.integers(60, 141))) for _ in range(n_ref)]
    ref_dir = os.path.join(out_dir, "ingest", "ref")
    os.makedirs(ref_dir, exist_ok=True)
    _write_docs(os.path.join(ref_dir, "documents.parquet"), 0, ref, ["en"] * n_ref, rng)
    batch_dir = os.path.join(out_dir, "ingest", "batches")
    os.makedirs(batch_dir, exist_ok=True)
    picks = iter(rng.choice(n_ref, size=n_batches * batch_size, replace=False))
    verdicts = {"clean": 0, "exact_dup": 0, "near_dup": 0, "rule:r_wordcount": 0}
    next_id = 1_000_000
    batch_paths = []
    for b in range(n_batches):
        n_clean = int(batch_size * 0.4)
        n_ex = n_nr = int(batch_size * 0.2)
        n_sh = batch_size - n_clean - n_ex - n_nr
        items = [_sentence_text(rng, vocab, int(rng.integers(60, 141))) for _ in range(n_clean)]
        items += [ref[next(picks)].upper() for _ in range(n_ex)]
        items += [_perturb(rng, ref[next(picks)], vocab, 3) for _ in range(n_nr)]
        items += [_sentence_text(rng, vocab, int(rng.integers(15, 40))) for _ in range(n_sh)]
        for key, n in (("clean", n_clean), ("exact_dup", n_ex), ("near_dup", n_nr),
                       ("rule:r_wordcount", n_sh)):
            verdicts[key] += n
        perm = rng.permutation(len(items))
        path = os.path.join(batch_dir, f"batch_{b:03d}.parquet")
        _write_docs(path, next_id, [items[i] for i in perm], ["en"] * len(items), rng)
        batch_paths.append(path)
        next_id += len(items)
    ingest_manifest = {
        "ref": ref_dir,
        "batches": batch_paths,
        "batch_rows": batch_size,
        "verdicts": verdicts,
        "input_records": n_batches * batch_size,
    }
    return {"corpus": corpus_manifest, "ingest": ingest_manifest}


_PII = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"\d{3}[-.]\d{3}[-.]\d{4}", "[PHONE]"),
    (r"\d{3}-\d{2}-\d{4}", "[SSN]"),
)


def _redact(text: str) -> str:
    """Python twin of ``operators.textops.pii_redact``."""
    for pattern, token in _PII:
        text = re.sub(pattern, token, text)
    return text


def _write_docs(path: str, first_id: int, texts: list[str], langs: list[str], rng) -> None:
    n = len(texts)
    table = pa.table({
        "doc_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, path)
