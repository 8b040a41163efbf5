"""Deterministic synthetic source-code corpus generator.

Shape is exactly ``BASELINE.json.input_hint``: ``(repo string, path
string, commit string, lang string, content string)``.  Statistical
properties are chosen to exercise every codec path (FIXTURES.md F1):

* ``repo``   — Zipf(s≈1.3) row counts over ~``n_repos`` repos → 1-2 hot
  repos (skew-salting path), dictionary-friendly;
* ``path``   — shared tree prefixes, sorted within repo → FSST-friendly;
* ``commit`` — 40-char hex; consecutive files in a repo module share a
  commit → RLE-friendly after the (repo, path, commit) sort;
* ``lang``   — ~20 values correlated with path extension → dictionary;
* ``content``— code-like phrase sequences, 0..~4000 chars, ASCII-heavy
  with some UTF-8; rows 0..9 are pinned edge cases (empty, single char,
  control bytes, high-entropy blob, …); a small fraction are exact
  duplicates (dedup-operator fodder).

Generation is Spark-native and scale-free: ``spark.range(n)`` →
``mapInPandas`` where every field is a pure function of the row id and
seed (splitmix64 streams) — no sequential RNG state, so the output is
byte-identical under any partitioning, any cluster size.  This mirrors
the role of the reference's deterministic test fixture generator
(biotest-generated VCFs, /root/reference/src/name2data.rs:727-801) at
arbitrary scale.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession

from vcf2parquet_spark._alloc import worker_setup

GOLDEN = np.uint64(0x9E3779B97F4A7C15)

LANGS = [
    ("py", "python"), ("rs", "rust"), ("go", "go"), ("js", "javascript"),
    ("ts", "typescript"), ("java", "java"), ("c", "c"), ("h", "c_header"),
    ("cpp", "cpp"), ("rb", "ruby"), ("php", "php"), ("cs", "csharp"),
    ("swift", "swift"), ("kt", "kotlin"), ("scala", "scala"), ("sh", "shell"),
    ("sql", "sql"), ("md", "markdown"), ("yaml", "yaml"), ("json", "json"),
]

# code-like phrase bank (deterministic, ASCII-heavy, some UTF-8)
_PHRASES = [
    "def process(self, batch):", "    return self.transform(batch)",
    "import numpy as np", "from typing import Optional", "fn main() {",
    "    let mut total = 0;", "}", "func (s *Server) Handle(w, r) {",
    "const result = await fetch(url);", "public static void main(String[] args)",
    "SELECT id, name FROM users WHERE active = 1;", "    if err != nil {",
    "        return nil, err", "for (int i = 0; i < n; i++) {",
    "std::vector<int> values;", "class Encoder(Base):",
    "    #[inline]", "    @staticmethod", "try:", "except ValueError as e:",
    "    raise RuntimeError(str(e))", "// TODO: optimize this path",
    "# NOTE: keep deterministic", "/* copyright header */",
    "        self.cache[key] = value", "match token {", "    _ => break,",
    "while let Some(item) = iter.next() {", "assert len(out) == len(inp)",
    "    console.log(`done ${count}`);", "lambda x: x * scale + offset",
    "CREATE TABLE blocks (id BIGINT, data BYTEA);",
    "    b = a.reshape(-1, 8).sum(axis=1)", "y = torch.relu(self.fc1(x))",
    "de_dupe = {k: v for k, v in rows}", "if __name__ == \"__main__\":",
    "        writer.write_batch(batch)", "return Ok(Response::new(body))",
    "  - name: run tests", "    runs-on: ubuntu-latest",
    "println!(\"value = {}\", value);", "s := strings.TrimSpace(line)",
    "ctx, cancel := context.WithTimeout(ctx, time.Second)",
    "      expect(result).toEqual(42);", "val parsed = json.parse(input)",
    "müller_straße = \"üöä\"  # utf-8 idents", "emoji_ok = \"🎉\"",
]

_HEXCHARS = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 — the per-row deterministic hash stream."""
    with np.errstate(over="ignore"):
        z = x.astype(np.uint64) + GOLDEN
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _stream(ids: np.ndarray, seed: int, k: int) -> np.ndarray:
    with np.errstate(over="ignore"):
        salt = np.uint64(seed) + np.uint64(k) * GOLDEN
    return splitmix64(ids.astype(np.uint64) ^ splitmix64(salt))


def _u01(h: np.ndarray) -> np.ndarray:
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _hex(h: np.ndarray, n_words: int) -> np.ndarray:
    """uint64[n] (xor-folded n_words times) -> fixed-width hex byte matrix."""
    cols = []
    for w in range(n_words):
        with np.errstate(over="ignore"):
            hw = splitmix64(h + np.uint64(w * 1315423911))
        b = hw.view(np.uint8).reshape(-1, 8) if hw.flags["C_CONTIGUOUS"] else \
            np.ascontiguousarray(hw).view(np.uint8).reshape(-1, 8)
        hi = _HEXCHARS[b >> 4]
        lo = _HEXCHARS[b & 0x0F]
        hx = np.empty((len(h), 16), dtype=np.uint8)
        hx[:, 0::2] = hi
        hx[:, 1::2] = lo
        cols.append(hx)
    return np.concatenate(cols, axis=1)


def _fixed_width_strings(mat: np.ndarray) -> pa.Array:
    """(n, w) uint8 matrix -> pa.StringArray of width-w strings.

    Past int32 offset capacity (n*w > 2^31, ~54M rows of 40-char
    commits in ONE batch) the int32 ``arange`` would silently wrap
    negative and build a corrupt array — switch to large_string (int64
    offsets), which every downstream path already handles."""
    n, w = mat.shape
    data = pa.py_buffer(np.ascontiguousarray(mat).tobytes())
    if n * w <= np.iinfo(np.int32).max:
        offsets = np.arange(0, (n + 1) * w, w, dtype=np.int32)
        return pa.StringArray.from_buffers(
            n, pa.py_buffer(offsets.tobytes()), data)
    offsets = np.arange(0, (n + 1) * w, w, dtype=np.int64)
    return pa.LargeStringArray.from_buffers(
        n, pa.py_buffer(offsets.tobytes()), data)


def zipf_weights(n: int, s: float = 1.3) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), s)
    return w / w.sum()


def _gen_batch(ids: np.ndarray, seed: int, n_repos: int,
               cum_zipf: np.ndarray, phrases: pa.Array) -> pa.Table:
    n = len(ids)
    h_repo = _stream(ids, seed, 1)
    h_path = _stream(ids, seed, 2)
    h_cont = _stream(ids, seed, 3)

    # repo: Zipf-skewed index -> "org{a}/repo{b}"
    repo_idx = np.searchsorted(cum_zipf, _u01(h_repo), side="right")
    repo_idx = np.minimum(repo_idx, n_repos - 1).astype(np.int64)
    org = (repo_idx % 7).astype(np.int64)
    repo = pc.binary_join_element_wise(
        pa.array(np.char.add("org", org.astype("U2"))),
        pa.array(np.char.add("repo", repo_idx.astype("U6"))), "/")

    # module index drives both path sort order and commit runs (RLE!)
    module = (h_path % np.uint64(37)).astype(np.int64)
    fileno = (h_path >> np.uint64(8)) % np.uint64(500)
    lang_idx = ((h_path >> np.uint64(24)) % np.uint64(len(LANGS))).astype(np.int64)
    exts = np.array([e for e, _ in LANGS])
    langs = np.array([l for _, l in LANGS])
    path = pc.binary_join_element_wise(
        pa.array(np.char.add("src/m", np.char.zfill(module.astype("U2"), 2))),
        pa.array(np.char.add(
            np.char.add("f_", np.char.zfill(fileno.astype("U3"), 3)),
            np.char.add(".", exts[lang_idx]))), "/")
    lang = pa.array(langs[lang_idx])

    # commit: one per (repo, module epoch) -> runs after (repo,path) sort
    epoch = module // 5
    commit_seed = splitmix64(
        repo_idx.astype(np.uint64) * np.uint64(1000003)
        + epoch.astype(np.uint64) + np.uint64(seed))
    commit = _fixed_width_strings(_hex(commit_seed, 3)[:, :40])

    # content: join of k phrases + a unique-ish trailer token
    dup = _u01(_stream(ids, seed, 4)) < 0.03  # ~3% exact duplicates
    h_eff = np.where(dup, _stream(ids - (ids % np.uint64(97)), seed, 3), h_cont)
    k = (np.uint64(3) + (h_eff % np.uint64(60))).astype(np.int64)
    total = int(k.sum())
    row_rep = np.repeat(h_eff, k)
    within = np.arange(total, dtype=np.uint64) - np.repeat(
        np.cumsum(k) - k, k).astype(np.uint64)
    with np.errstate(over="ignore"):
        pidx = (splitmix64(row_rep + within * GOLDEN) % np.uint64(len(_PHRASES)))
    flat = phrases.take(pa.array(pidx.astype(np.int64)))
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(k, out=offs[1:])
    lists = pa.ListArray.from_arrays(pa.array(offs.astype(np.int32), pa.int32()), flat)
    body = pc.binary_join(lists, "\n")
    trailer = _fixed_width_strings(
        np.concatenate([np.tile(np.frombuffer(b"\n# fp:", np.uint8), (n, 1)),
                        _hex(h_eff, 1)], axis=1))
    content = pc.binary_join_element_wise(body, trailer, "")

    # pinned edge-case rows (ids 0..9) — FIXTURES.md F1 edge list
    edge_vals = ["", "x", "tab\there\nnewline", "\x00nul-adjacent\x01",
                 "same same same same same same", None, None, None, None, None]
    rnd = np.random.default_rng(seed)  # deterministic given seed
    blob = bytes(rnd.integers(0, 256, 2048).astype(np.uint8))
    edge_vals[5] = blob.decode("latin1")          # high-entropy blob
    edge_vals[6] = "a" * 4000                      # long constant
    edge_vals[7] = "短いユニコード文字列 🎉"        # non-ASCII
    edge_vals[8] = " "
    edge_vals[9] = "def f():\n    pass\n"
    small = ids < np.uint64(10)
    if small.any():
        content_np = content.to_pandas().to_numpy(dtype=object)
        idx = np.flatnonzero(small)
        for j in idx.tolist():
            content_np[j] = edge_vals[int(ids[j])]
        content = pa.array(content_np, type=pa.string())
        # id 0 also gets a single-row repo
        repo_np = repo.to_pandas().to_numpy(dtype=object)
        for j in idx.tolist():
            if int(ids[j]) == 0:
                repo_np[j] = "org9/lonely"
        repo = pa.array(repo_np, type=pa.string())

    return pa.table({
        "repo": repo.cast(pa.string()),
        "path": path.cast(pa.string()),
        "commit": commit.cast(pa.string()),
        "lang": lang.cast(pa.string()),
        "content": content.cast(pa.string()),
    })


CORPUS_SCHEMA = "repo string, path string, commit string, lang string, content string"


def synth_corpus(spark: SparkSession, n_rows: int, seed: int = 42,
                 n_repos: int | None = None, partitions: int | None = None
                 ) -> DataFrame:
    """Deterministic corpus DataFrame of exactly ``input_hint`` shape."""
    if n_repos is None:
        n_repos = max(5, min(200, n_rows // 400))
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism
    cum = np.cumsum(zipf_weights(n_repos))
    phr = pa.array(_PHRASES, type=pa.string())

    def gen(iterator):
        worker_setup()
        for pdf in iterator:
            ids = pdf["id"].to_numpy().astype(np.uint64)
            yield _gen_batch(ids, seed, n_repos, cum, phr).to_pandas()

    return (spark.range(0, n_rows, 1, partitions)
            .mapInPandas(gen, schema=CORPUS_SCHEMA))


def synth_corpus_arrow(n_rows: int, seed: int = 42,
                       n_repos: int | None = None) -> pa.Table:
    """Driver-side (no Spark) corpus for kernel-level unit tests."""
    if n_repos is None:
        n_repos = max(5, min(200, n_rows // 400))
    cum = np.cumsum(zipf_weights(n_repos))
    phr = pa.array(_PHRASES, type=pa.string())
    return _gen_batch(np.arange(n_rows, dtype=np.uint64), seed, n_repos, cum, phr)
