"""Seeded inputs: WordCount line files, their locality files, the
registry sample and the registry's line corpus. The same seed and
parameters always give the same bytes; files are cached by parameters
under ``.bench_build/inputs``.
"""
import hashlib
import json
import math
import re
import shutil
from pathlib import Path

import numpy as np

# Words per line, drawn uniformly from [LINE_MIN, LINE_MAX].
LINE_MIN, LINE_MAX = 6, 14
CACHE_KEEP = 12


def word_bytes(ids: np.ndarray, vocab: int, seps: np.ndarray) -> bytes:
    """Render word ids as lowercase words followed by their separator.

    A word is the base-26 digits of its id, least significant first,
    padded with 'a' to a length of ndig..ndig+4 fixed by the id, so two
    ids never render the same and first letters spread evenly.
    """
    ndig = max(1, math.ceil(math.log(vocab, 26)))
    lengths = ndig + ((ids * 2654435761) % 4294967296 >> 16) % 5
    width = ndig + 5
    mat = np.empty((len(ids), width), dtype=np.uint8)
    v = ids.copy()
    for j in range(width - 1):
        mat[:, j] = 97 + v % 26
        v //= 26
    rows = np.arange(len(ids))
    mat[rows, lengths] = seps
    keep = np.arange(width)[None, :] <= lengths[:, None]
    return mat[keep].tobytes()


def write_corpus(path: Path, seed: int, kind: str, mb: float, vocab: int, zipf_s: float) -> dict:
    """Write a line file of about `mb` MB; returns its line/token counts."""
    rng = np.random.default_rng(seed)
    if kind == "zipf":
        weights = np.arange(1, vocab + 1, dtype=np.float64) ** -zipf_s
        cdf = np.cumsum(weights / weights.sum())
        rank_to_id = rng.permutation(vocab)
    ndig = max(1, math.ceil(math.log(vocab, 26)))
    mean_token = ndig + 2 + 1  # mean length + separator
    target = int(mb * 1048576)
    written = lines = tokens = 0
    block_lines = 100_000
    with open(path, "wb") as f:
        while written < target:
            per_line = rng.integers(LINE_MIN, LINE_MAX + 1, size=block_lines)
            # trim the last block to land near the target size
            need = (target - written) / mean_token
            per_line = per_line[: max(1, int(np.searchsorted(np.cumsum(per_line), need)) + 1)]
            n = int(per_line.sum())
            if kind == "zipf":
                ids = rank_to_id[np.minimum(np.searchsorted(cdf, rng.random(n)), vocab - 1)]
            else:
                ids = rng.integers(0, vocab, size=n)
            seps = np.full(n, ord(" "), dtype=np.uint8)
            seps[np.cumsum(per_line) - 1] = ord("\n")
            data = word_bytes(ids.astype(np.int64), vocab, seps)
            f.write(data)
            written += len(data)
            lines += len(per_line)
            tokens += n
    return {"lines": lines, "tokens": tokens, "bytes": written}


def write_locality(path: Path, seed: int, chunks: int, workers: int) -> None:
    """Reference-style "<chunk> <node>" lines; node ids up to twice the
    worker count, so the wrap rule is exercised."""
    rng = np.random.default_rng(seed + 7919)
    nodes = rng.integers(1, 2 * workers + 1, size=chunks)
    path.write_text("".join(f"{c + 1} {n}\n" for c, n in enumerate(nodes)))


def _cache_dir(build: Path, params: dict) -> Path:
    key = hashlib.sha256(json.dumps(params, sort_keys=True).encode()).hexdigest()[:16]
    return build / "inputs" / f"{params['workload']}-{key}"


def _prune(build: Path) -> None:
    dirs = sorted((build / "inputs").glob("*"), key=lambda p: p.stat().st_mtime)
    for d in dirs[:-CACHE_KEEP]:
        shutil.rmtree(d, ignore_errors=True)


def wc_inputs(build: Path, workload: str, seed: int, kind: str, mb: float, vocab: int,
              zipf_s: float, chunks: int, workers: int, warm_mb: float) -> dict:
    params = dict(workload=workload, seed=seed, kind=kind, mb=mb, vocab=vocab,
                  zipf_s=zipf_s, chunks=chunks, workers=workers, warm_mb=warm_mb, v=1)
    d = _cache_dir(build, params)
    meta_path = d / "meta.json"
    if not meta_path.exists():
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
        meta = write_corpus(d / "input.txt", seed, kind, mb, vocab, zipf_s)
        warm = write_corpus(d / "warm.txt", seed + 1, kind, warm_mb, vocab, zipf_s)
        meta["chunk_size"] = max(1, math.ceil(meta["lines"] / chunks))
        meta["warm_lines"] = warm["lines"]
        write_locality(d / "locality.txt", seed, chunks + 1, workers)
        meta_path.write_text(json.dumps(meta))
        _prune(build)
    meta = json.loads(meta_path.read_text())
    meta.update(line_file=str(d / "input.txt"), warm_file=str(d / "warm.txt"),
                locality=str(d / "locality.txt"), dir=str(d))
    return meta


def registry_corpus(build: Path, data_dir: Path, chunks: int, workers: int) -> dict:
    """The registry's line corpus: `documents.text` in doc_id order."""
    import pyarrow.parquet as pq
    params = dict(workload="registry_corpus", data=str(data_dir.name), chunks=chunks,
                  workers=workers, v=1)
    d = _cache_dir(build, params)
    meta_path = d / "meta.json"
    if not meta_path.exists():
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
        t = pq.read_table(data_dir / "documents.parquet", columns=["doc_id", "text"])
        t = t.sort_by("doc_id")
        texts = [s or "" for s in t.column("text").to_pylist()]
        (d / "input.txt").write_text("".join(s + "\n" for s in texts))
        meta = {"lines": len(texts), "bytes": (d / "input.txt").stat().st_size,
                "chunk_size": max(1, math.ceil(len(texts) / chunks))}
        write_locality(d / "locality.txt", 0, chunks + 1, workers)
        meta_path.write_text(json.dumps(meta))
    meta = json.loads(meta_path.read_text())
    meta.update(line_file=str(d / "input.txt"), locality=str(d / "locality.txt"), dir=str(d))
    return meta


def family(name: str) -> str:
    """Registry name family: the leading letters (`q5` -> `q`)."""
    return re.match(r"[a-z]+", name).group(0)
