"""Seeded benchmark inputs.

The registry queries read a ``documents`` fixture written from the seed, so
a run needs nothing outside its checkout. It restates the generating process
of the repository's sf0.1 ``documents`` table, as measured on that table
(see README.md): one parquet file with one row group, the layout the
engine's scan-spread heuristics are written for.
"""

from __future__ import annotations

import hashlib
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the sf0.1 corpus' vocabulary, each word about equally frequent there
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
#: its languages: ``en`` on 41% of documents, the other four about equal
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_W = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
#: its share of near-duplicates: another document's text plus " dup"
_DUP_SHARE = 0.05


def write_documents(path: str, n: int, seed: int) -> None:
    """``documents(doc_id, text, lang, source, n_chars)`` as the sf0.1
    table is made: 10-99 words per document, uniform over :data:`_WORDS`;
    5% of documents are replaced by a random document's text plus " dup";
    sources ``src{doc_id % 20}``."""
    rng = random.Random(seed)
    texts = [
        " ".join(rng.choice(_WORDS) for _ in range(rng.randint(10, 99)))
        for _ in range(n)
    ]
    for i in rng.sample(range(n), round(n * _DUP_SHARE)):
        texts[i] = texts[rng.randrange(n)] + " dup"
    table = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": rng.choices(_LANGS, _LANG_W, k=n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, path)


_SEQ_WORDS = ("alpha", "bravo", "charlie", "delta", "echo")


def log_line(i: int) -> str:
    """The access-log line ``sources.synth.log_line_expr`` renders for row
    ``i`` (FIXTURES.md A1a), restated in Python so staging needs no Spark job
    (the renderer's cold code generation alone cost ~10 s a run)."""
    h = hashlib.md5(str(i).encode()).hexdigest()
    num = i * 13 % 100000
    uri = (
        f"/api/user/{num}/profile", f"/item/{h}", "/static/app.js",
        f"/order/{num}/detail/{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}",
        "/search",
    )[i % 5]
    args = ("", f"q={_SEQ_WORDS[i % 5]}&page={i % 40}", f"id={num}")[i % 3]
    target = f"{uri}?{args}" if args else uri
    m = i % 120
    status = 200 if i % 50 < 45 else 404 if i % 50 < 48 else 500
    return (
        f"10.{i % 7}.{i // 7 % 13}.{i % 251} - [01/Jan/2024:{m // 60:02d}:{m % 60:02d}:"
        f"{i % 60:02d} +0000] \"{'GET' if i % 10 < 8 else 'POST'} {target} HTTP/1.1\" "
        f"{status} {100 + i * i % 20000} {0.001 * (1 + i * 31 % 5000):.3f}"
    )


def write_sequences(root: str, sizes: list[int], seed: int) -> dict[str, tuple[int, int]]:
    """The pipeline's input table (``sequences``: doc_id, tokens, n_tok,
    source, part_bucket), written partitioned by ``part_bucket``, with
    ``sizes[b]`` rows in bucket ``b``: rows ``[skip, skip + n)`` of the
    synthetic log, every 1000th line corrupt (as
    ``gen_sequences(invalid_every=1000)``), sources Zipf-skewed (half
    ``src0``). The seed picks ``skip``, the sources and which rows share a
    bucket. Returns ``{bucket: (rows, corrupt rows)}``."""
    rng = np.random.default_rng(seed)
    n = sum(sizes)
    skip = 1000 * (seed % 97)
    ids = np.arange(skip, skip + n)
    bad = ids % 1000 == 999
    lines = [
        (f"CORRUPT-LINE-{i}" if i % 1000 == 999 else log_line(i)).encode()
        for i in range(skip, skip + n)
    ]
    n_tok = np.fromiter(map(len, lines), np.int32, n)
    offsets = np.zeros(n + 1, np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    chars = np.frombuffer(b"".join(lines), np.uint8).astype(np.int32)
    part = rng.permutation(np.repeat(np.arange(len(sizes), dtype=np.int32), sizes))
    src = np.where(rng.random(n) < 0.5, 0, rng.integers(1, 10, n))
    table = pa.table({
        "doc_id": [f"doc{i:010d}" for i in range(skip, skip + n)],
        "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(chars)),
        "n_tok": pa.array(n_tok),
        "source": [f"src{s}" for s in src],
        "part_bucket": pa.array(part),
    })
    pq.write_to_dataset(table, root, partition_cols=["part_bucket"])
    return {
        str(b): (int((part == b).sum()), int(bad[part == b].sum()))
        for b in range(len(sizes))
    }


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path``."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )
