"""The input generators: same seed, byte-identical files; planted cases
present; manifests consistent with what was written."""

import hashlib
import os

import pyarrow.parquet as pq

import gen


def _digest(root):
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _strip(manifest, root):
    """Manifest with the output directory taken out of every path."""
    if isinstance(manifest, dict):
        return {k: _strip(v, root) for k, v in manifest.items()}
    if isinstance(manifest, list):
        return [_strip(v, root) for v in manifest]
    if isinstance(manifest, str):
        return manifest.replace(str(root), "")
    return manifest


def _twice(tmp_path, fn, seed=7, **kw):
    a, b = tmp_path / "a", tmp_path / "b"
    ma, mb = fn(str(a), seed, **kw), fn(str(b), seed, **kw)
    return a, b, ma, mb


def test_ghcn_corpus_same_seed_same_bytes(tmp_path):
    a, b, ma, mb = _twice(tmp_path, gen.ghcn_corpus, n_stations=4)
    assert _digest(a) == _digest(b)
    assert _strip(ma, a) == _strip(mb, b)
    c = tmp_path / "c"
    gen.ghcn_corpus(str(c), 8, n_stations=4)
    assert _digest(c) != _digest(a)


def test_star_schema_same_seed_same_bytes(tmp_path):
    a, b, ma, mb = _twice(tmp_path, gen.star_schema, scale=0.001)
    assert _digest(a) == _digest(b)
    assert _strip(ma, a) == _strip(mb, b)


def test_documents_same_seed_same_bytes(tmp_path):
    kw = {"n_corpus": 200, "n_ref": 100, "n_batches": 2, "batch_size": 20}
    a, b, ma, mb = _twice(tmp_path, gen.documents, **kw)
    assert _digest(a) == _digest(b)
    assert _strip(ma, a) == _strip(mb, b)


def test_ghcn_planted_cases(tmp_path):
    m = gen.ghcn_corpus(str(tmp_path), 3, n_stations=6)
    lines = []
    for f in sorted(os.listdir(m["dly_dir"])):
        with open(os.path.join(m["dly_dir"], f)) as fh:
            lines += fh.read().splitlines()
    assert all(len(line) == 269 for line in lines)
    elements = {line[17:21] for line in lines}
    assert {"TMAX", "TMIN", "PRCP", "SNOW", "SNWD"} < elements  # plus non-core
    assert elements - set(gen.CORE)
    slots = [int(line[21 + 8 * d: 26 + 8 * d]) for line in lines for d in range(31)]
    assert -9999 in slots
    # a value in an impossible day slot (Feb 30 and the like)
    assert m["impossible_slots"] > 0
    def first_bad_slot(line):
        d = gen._days_in_month(int(line[11:15]), int(line[15:17]))
        return int(line[21 + 8 * d: 26 + 8 * d]) if d < 31 else -9999

    assert sum(first_bad_slot(line) != -9999 for line in lines) == m["impossible_slots"]
    assert m["out_of_range"] > 0
    with open(m["stations"]) as fh:
        meta_ids = {line[:11] for line in fh.read().splitlines()}
    data_ids = {line[:11] for line in lines}
    assert len(data_ids - meta_ids) == 1  # one station without metadata
    assert m["orphan_monthly_rows"] > 0
    assert m["bronze_rows"] > m["silver_rows"] > m["monthly_rows"] > m["yearly_rows"]


def test_documents_manifest_matches_files(tmp_path):
    m = gen.documents(str(tmp_path), 5, n_corpus=300, n_ref=120, n_batches=2,
                      batch_size=30)
    c, ing = m["corpus"], m["ingest"]
    t = pq.read_table(os.path.join(c["path"], "documents.parquet"))
    assert t.num_rows == c["input_records"] == 300
    assert t.column_names == ["doc_id", "text", "lang", "source", "n_chars"]
    assert c["input_records"] > c["filtered"] > c["exact_deduped"] > c["survivors"]
    assert sum(ing["verdicts"].values()) == 2 * 30 == ing["input_records"]
    assert [pq.read_table(p).num_rows for p in ing["batches"]] == [30, 30]
