"""Seeded input generator for the benchmark workloads.

Pure numpy + pyarrow: no Spark session and no call into the product's own
synthesizer (``lsh_hdc_spark.sources.clips``), so an edit to the product
cannot silently change what a workload measures.  Each input is written as
parquet part files (so Spark gets Catalyst size estimates and a parallel
scan) together with the generator's ground truth, under a cache directory
keyed by (workload, scale, seed).  The same seed always gives the same
bytes; ``content_hash`` fingerprints the logical content so a run can
refuse an input that differs from the recorded one.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import shutil
import wave
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: parquet part files per input table (two per core on a 4-core host)
N_PARTS = 8
FAMILY_SIZE = 4
DUP_FRACTION = 0.7

# ---------------------------------------------------------------------------
# sizes.  "full" is what the timed runs use; "tiny" is for the tests.
# ---------------------------------------------------------------------------
SIZES = {
    "full": {
        "clips_payload": {"n": 2000},
        "transcripts_dense": {"n": 2000, "boiler": 24},
        "stream_fused": {"n_base": 1200, "batch_rows": 150, "n_batches": 4},
        "ann_embeddings": {"n": 8000, "dim": 64, "centers": 300},
    },
    "tiny": {
        "clips_payload": {"n": 60},
        "transcripts_dense": {"n": 100, "boiler": 8},
        "stream_fused": {"n_base": 40, "batch_rows": 12, "n_batches": 2},
        "ann_embeddings": {"n": 200, "dim": 16, "centers": 20},
    },
}

WORKLOADS = tuple(SIZES["full"])


# ---------------------------------------------------------------------------
# building blocks
# ---------------------------------------------------------------------------
def _vocab(size: int) -> np.ndarray:
    return np.array([f"w{i:05d}" for i in range(size)], dtype=object)


def _zipf_tokens(
    rng: np.random.Generator, vocab_size: int, length: int, a: float = 1.1
) -> np.ndarray:
    """Token ids drawn from a truncated Zipf(a) over the vocabulary."""
    p = 1.0 / np.arange(1, vocab_size + 1) ** a
    p /= p.sum()
    return rng.choice(vocab_size, size=length, p=p)


def _perturb(toks: np.ndarray, rng: np.random.Generator, vocab_size: int, edits: int) -> np.ndarray:
    """`edits` random single-token edits: substitute, delete or duplicate."""
    t = list(toks)
    for _ in range(edits):
        pos = int(rng.integers(0, len(t)))
        op = int(rng.integers(0, 3))
        if op == 0:
            t[pos] = int(rng.integers(0, vocab_size))
        elif op == 1 and len(t) > 4:
            del t[pos]
        else:
            t.insert(pos, t[pos])
    return np.array(t, dtype=np.int64)


def _text(vocab: np.ndarray, toks: np.ndarray) -> str:
    return " ".join(vocab[toks])


def _tones(rng: np.random.Generator, sr: int, n: int) -> np.ndarray:
    """2-4 summed sine tones at amplitude 0.5 as int16 PCM."""
    t = np.arange(n, dtype=np.float64) / sr
    k = int(rng.integers(2, 5))
    sig = np.zeros(n)
    for _ in range(k):
        f = float(rng.uniform(90.0, min(3900.0, sr / 2 - 150)))
        sig += np.sin(2 * np.pi * f * t + float(rng.uniform(0, 2 * np.pi)))
    return np.clip(sig * (0.5 / k) * 32767, -32768, 32767).astype(np.int16)


def _noisy(pcm: np.ndarray, rng: np.random.Generator, db: float = -40.0) -> np.ndarray:
    """Additive Gaussian noise `db` below the signal's RMS."""
    rms = float(np.sqrt(np.mean(pcm.astype(np.float64) ** 2))) or 1.0
    out = pcm.astype(np.float64) + rng.normal(0.0, rms * 10 ** (db / 20), pcm.size)
    return np.clip(out, -32768, 32767).astype(np.int16)


def _wav(pcm: np.ndarray, sr: int) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(np.ascontiguousarray(pcm, dtype="<i2").tobytes())
    return buf.getvalue()


def _audio(rng: np.random.Generator) -> tuple[np.ndarray, int, int]:
    sr = 16000 if rng.random() < 0.9 else 8000
    dur = int(rng.integers(200, 900))
    return _tones(rng, sr, sr * dur // 1000), sr, dur


def _clip_rows(ids, pcms, srs, durs, texts) -> dict:
    return {
        "clip_id": list(ids),
        "bytes": [_wav(p, s) for p, s in zip(pcms, srs)],
        "sr_hz": np.asarray(srs, dtype=np.int32),
        "dur_ms": np.asarray(durs, dtype=np.int32),
        "codec": ["pcm_s16le"] * len(ids),
        "transcript": list(texts),
    }


CLIPS_SCHEMA = pa.schema(
    [
        ("clip_id", pa.string()),
        ("bytes", pa.binary()),
        ("sr_hz", pa.int32()),
        ("dur_ms", pa.int32()),
        ("codec", pa.string()),
        ("transcript", pa.string()),
    ]
)


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------
#: clips_payload transcript length in tokens.  At 48 or more, one edit
#: keeps an original and its variant above 0.87 Jaccard, which the default
#: banding makes a candidate pair with probability above 0.98, so a family
#: almost never loses two of its three edges to the original.
CLIP_TOKENS = (48, 96)


def gen_clips(seed: int, n: int) -> tuple[pa.Table, np.ndarray]:
    """Clip table with WAV payload; ~70% of rows in 4-member families whose
    members are one-edit transcript variants of the original plus -40 dB
    noise on its PCM, the original holding the family's lowest id.
    Returns (table, family id per row; -1 = singleton)."""
    rng = np.random.default_rng([seed, 1])
    vsize = 3000
    vocab = _vocab(vsize)
    n_fam_rows = int(n * DUP_FRACTION) // FAMILY_SIZE * FAMILY_SIZE
    pcms, srs, durs, texts, fam = [], [], [], [], []
    for f in range(n_fam_rows // FAMILY_SIZE):
        pcm, sr, dur = _audio(rng)
        toks = _zipf_tokens(rng, vsize, int(rng.integers(*CLIP_TOKENS)))
        for k in range(FAMILY_SIZE):
            pcms.append(pcm if k == 0 else _noisy(pcm, rng))
            texts.append(_text(vocab, toks if k == 0 else _perturb(toks, rng, vsize, 1)))
            srs.append(sr)
            durs.append(dur)
            fam.append(f)
    for _ in range(n - n_fam_rows):
        pcm, sr, dur = _audio(rng)
        pcms.append(pcm)
        srs.append(sr)
        durs.append(dur)
        texts.append(_text(vocab, _zipf_tokens(rng, vsize, int(rng.integers(*CLIP_TOKENS)))))
        fam.append(-1)
    order = rng.permutation(n)
    # the original is its family's first upload: within each family, the
    # lowest id goes to the original, so every seed's clusters converge in
    # the same number of CC rounds (with ids in random order, whether some
    # family needs a second round is a coin toss per seed)
    pos = np.argsort(order)
    for f in range(n_fam_rows // FAMILY_SIZE):
        members = np.arange(f * FAMILY_SIZE, (f + 1) * FAMILY_SIZE)
        order[np.sort(pos[members])] = members
    ids = [f"clip{i:07d}" for i in range(n)]
    cols = _clip_rows(
        ids,
        [pcms[j] for j in order],
        [srs[j] for j in order],
        [durs[j] for j in order],
        [texts[j] for j in order],
    )
    return pa.table(cols, schema=CLIPS_SCHEMA), np.asarray(fam)[order]


#: share of transcripts_dense rows in chained families.  Every pair of a
#: family shares a long exact substring, so this share sets how many pairs
#: reach the substring pass's per-pair suffix-array verify.
TRANSCRIPT_DUP_FRACTION = 0.1


def gen_transcripts(seed: int, n: int, boiler: int) -> tuple[pa.Table, np.ndarray]:
    """Transcript-only table (doc_id, text), longer than the clips'.

    Families have 3-6 members (cycling) chained: each member is a 2-edit variant of
    the one before, so far members drift apart and only the chain holds the
    cluster together (several CC rounds).  `boiler` rows form one large
    family: a shared 30-token template plus a per-row trailing reference
    token, so most of them share each band key and fill the hot-anchor
    bucket tier."""
    rng = np.random.default_rng([seed, 2])
    vsize = 20000
    vocab = _vocab(vsize)
    # a flat Zipf: with the clips' Zipf(1.1), frequent token pairs give the
    # substring pass fingerprint buckets of thousands of documents
    words = lambda k: _zipf_tokens(rng, vsize, k, a=0.5)  # noqa: E731
    texts, fam = [], []
    template = words(30)
    for _ in range(boiler):
        texts.append(_text(vocab, np.append(template, rng.integers(0, vsize))))
        fam.append(0)
    f = 1
    n_fam_target = int(n * TRANSCRIPT_DUP_FRACTION)
    while len(texts) < boiler + n_fam_target:
        size = 3 + f % 4  # fixed cycle, so every seed has the same pair count
        toks = words(int(rng.integers(40, 80)))
        for _ in range(size):
            texts.append(_text(vocab, toks))
            fam.append(f)
            toks = _perturb(toks, rng, vsize, 2)
        f += 1
    while len(texts) < n:
        texts.append(_text(vocab, words(int(rng.integers(40, 80)))))
        fam.append(-1)
    texts, fam = texts[:n], np.asarray(fam[:n])
    order = rng.permutation(n)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array([texts[j] for j in order], pa.string()),
        }
    )
    return table, fam[order]


def gen_stream(
    seed: int, n_base: int, batch_rows: int, n_batches: int
) -> tuple[pa.Table, list[pa.Table], np.ndarray]:
    """Base corpus plus sequential micro-batches of clips.

    Base: families of 2 (text + audio near-dups) and singletons.  Each
    batch row is one of: a text-only duplicate of an earlier clip (re-voiced:
    one-edit transcript, unrelated audio), an audio-only duplicate
    (re-transcribed: same audio + -40 dB noise, new transcript), a duplicate
    on both axes, an in-batch family pair, or a new singleton.  Returns
    (base, batches, family id per row of base ++ batches)."""
    rng = np.random.default_rng([seed, 3])
    vsize = 3000
    vocab = _vocab(vsize)
    pool: list[tuple[np.ndarray, int, int, np.ndarray, int]] = []  # pcm, sr, dur, toks, fam
    next_fam = 0
    ids, pcms, srs, durs, texts, fams = [], [], [], [], [], []

    def emit(pcm, sr, dur, toks, f):
        ids.append(f"clip{len(ids):07d}")
        pcms.append(pcm)
        srs.append(sr)
        durs.append(dur)
        texts.append(_text(vocab, toks))
        fams.append(f)
        pool.append((pcm, sr, dur, toks, f))

    def fresh():
        pcm, sr, dur = _audio(rng)
        return pcm, sr, dur, _zipf_tokens(rng, vsize, int(rng.integers(24, 56)))

    while len(ids) < n_base:
        pcm, sr, dur, toks = fresh()
        emit(pcm, sr, dur, toks, next_fam)
        if rng.random() < 0.5 and len(ids) < n_base:
            emit(_noisy(pcm, rng), sr, dur, _perturb(toks, rng, vsize, 1), next_fam)
        next_fam += 1
    bounds = [len(ids)]
    for _ in range(n_batches):
        start = len(ids)
        while len(ids) - start < batch_rows:
            u = rng.random()
            if u < 0.6:  # cross-batch duplicate of an earlier clip
                pcm, sr, dur, toks, f = pool[int(rng.integers(0, len(pool)))]
                kind = int(rng.integers(0, 3))
                if kind == 0:  # re-voiced: same words, unrelated audio
                    npcm, nsr, ndur = _audio(rng)
                    emit(npcm, nsr, ndur, _perturb(toks, rng, vsize, 1), f)
                elif kind == 1:  # re-transcribed: same audio, new words
                    emit(_noisy(pcm, rng), sr, dur,
                         _zipf_tokens(rng, vsize, int(rng.integers(24, 56))), f)
                else:
                    emit(_noisy(pcm, rng), sr, dur, _perturb(toks, rng, vsize, 1), f)
            elif u < 0.7 and len(ids) - start < batch_rows - 1:  # in-batch pair
                pcm, sr, dur, toks = fresh()
                emit(pcm, sr, dur, toks, next_fam)
                emit(_noisy(pcm, rng), sr, dur, _perturb(toks, rng, vsize, 1), next_fam)
                next_fam += 1
            else:
                pcm, sr, dur, toks = fresh()
                emit(pcm, sr, dur, toks, next_fam)
                next_fam += 1
        bounds.append(len(ids))
    cols = _clip_rows(ids, pcms, srs, durs, texts)
    full = pa.table(cols, schema=CLIPS_SCHEMA)
    base = full.slice(0, bounds[0])
    batches = [full.slice(a, b - a) for a, b in zip(bounds[:-1], bounds[1:])]
    return base, batches, np.asarray(fams)


def gen_embeddings(
    seed: int, n: int, dim: int, centers: int
) -> tuple[pa.Table, np.ndarray]:
    """Clustered unit-ish embeddings (vec_id, embedding) around `centers`
    random directions, and the exact cosine top-5 of every vector
    (numpy brute force, ties broken by the smaller neighbour id)."""
    rng = np.random.default_rng([seed, 4])
    c = rng.standard_normal((centers, dim))
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    assign = rng.integers(0, centers, size=n)
    x = c[assign] + 0.35 / np.sqrt(dim) * rng.standard_normal((n, dim))
    x = x.astype(np.float32)
    u = x.astype(np.float64)
    u /= np.linalg.norm(u, axis=1, keepdims=True)
    top = np.empty((n, 5), dtype=np.int64)
    for a in range(0, n, 2048):
        s = u[a : a + 2048] @ u.T
        s[np.arange(s.shape[0]), np.arange(a, a + s.shape[0])] = -np.inf
        part = np.argpartition(-s, 5, axis=1)[:, :6]
        for i in range(s.shape[0]):
            cand = part[i]
            order = np.lexsort((cand, -s[i, cand]))
            top[a + i] = cand[order][:5]
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)),
                pa.array(x.reshape(-1)),
            ),
        }
    )
    return table, top


# ---------------------------------------------------------------------------
# hashing + cache
# ---------------------------------------------------------------------------
def content_hash(table: pa.Table) -> str:
    """sha256 over the logical column values (independent of parquet file
    layout): per column its name, then each value length-prefixed."""
    h = hashlib.sha256()
    for name in table.column_names:
        h.update(name.encode())
        col = table.column(name).combine_chunks()
        t = col.type
        if pa.types.is_string(t) or pa.types.is_binary(t):
            for v in col.to_pylist():
                b = v.encode() if isinstance(v, str) else v
                h.update(len(b).to_bytes(8, "little"))
                h.update(b)
        elif pa.types.is_list(t):
            h.update(np.asarray(col.value_lengths(), dtype=np.int64).tobytes())
            h.update(np.ascontiguousarray(col.flatten().to_numpy()).tobytes())
        else:
            h.update(np.ascontiguousarray(col.to_numpy()).tobytes())
    return h.hexdigest()


def crc_sum(table: pa.Table, col: str = "bytes") -> int:
    """sum(crc32(col)) — Spark's crc32 is the unsigned zlib CRC-32."""
    return int(sum(zlib.crc32(v) for v in table.column(col).to_pylist()))


def write_parts(table: pa.Table, path: str, parts: int = N_PARTS) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        piece = table.slice(i * step, step)
        if piece.num_rows:
            pq.write_table(
                piece, f"{path}/part-{i:03d}.parquet", use_dictionary=False,
                compression="snappy",
            )


def read_table(path: str) -> pa.Table:
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    return pa.concat_tables(pq.read_table(f"{path}/{f}") for f in files)


def _generate(workload: str, seed: int, scale: str, out: str) -> dict:
    p = SIZES[scale][workload]
    meta: dict = {"workload": workload, "seed": seed, "scale": scale, "inputs": {}}
    if workload == "clips_payload":
        t, fam = gen_clips(seed, p["n"])
        tables = {"clips": t}
        np.save(f"{out}/truth.npy", fam)
        meta["crc_sum"] = crc_sum(t)
    elif workload == "transcripts_dense":
        t, fam = gen_transcripts(seed, p["n"], p["boiler"])
        tables = {"docs": t}
        np.save(f"{out}/truth.npy", fam)
    elif workload == "stream_fused":
        base, batches, fam = gen_stream(seed, p["n_base"], p["batch_rows"], p["n_batches"])
        tables = {"base": base}
        tables.update({f"batch_{i:03d}": b for i, b in enumerate(batches)})
        np.save(f"{out}/truth.npy", fam)
    elif workload == "ann_embeddings":
        t, top = gen_embeddings(seed, p["n"], p["dim"], p["centers"])
        tables = {"emb": t}
        np.save(f"{out}/truth.npy", top)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    for name, t in tables.items():
        write_parts(t, f"{out}/{name}", N_PARTS if t.num_rows > 1000 else 2)
        meta["inputs"][name] = {"rows": t.num_rows, "sha256": content_hash(t)}
    return meta


def ensure(workload: str, seed: int, scale: str, cache_root: str) -> tuple[str, dict]:
    """(directory, meta) of the cached input; generates it on a miss.  The
    directory is written under a temporary name and renamed when complete,
    so an interrupted generation is never mistaken for a cached input."""
    d = os.path.join(cache_root, f"{workload}-{scale}-s{seed}")
    meta_path = os.path.join(d, "meta.json")
    if not os.path.exists(meta_path):
        tmp = d + ".partial"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        meta = _generate(workload, seed, scale, tmp)
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump(meta, fh, indent=1, sort_keys=True)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    with open(meta_path) as fh:
        return d, json.load(fh)


def verify(d: str, meta: dict) -> list[str]:
    """Re-hash every cached input table; returns the mismatches."""
    bad = []
    for name, rec in meta["inputs"].items():
        t = read_table(os.path.join(d, name))
        if t.num_rows != rec["rows"] or content_hash(t) != rec["sha256"]:
            bad.append(name)
    return bad
