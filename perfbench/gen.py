"""Seeded input generators for the benchmark workloads.

Everything here depends only on numpy/pyarrow and the seed: the program's
own ``corpus.py`` is not used, so a change to the program cannot change the
inputs it is measured on.

Raw bytes (the divisor of every MB/s rate and of ``stored_bytes_per_raw_byte``)
are computed here from the generated Arrow table, never from the program's
lineage: strings count their UTF-8 bytes, fixed-width columns their width,
nulls count zero.
"""

from __future__ import annotations

import functools

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

LANGS = ["python", "javascript", "go", "java", "rust", "c", "cpp", "ruby", "php", "shell", "kotlin", "scala"]
_EXT = {"python": "py", "javascript": "js", "go": "go", "java": "java", "rust": "rs", "c": "c",
        "cpp": "cc", "ruby": "rb", "php": "php", "shell": "sh", "kotlin": "kt", "scala": "scala"}
_KEYWORDS = {
    "python": ["def", "return", "import", "from", "class", "self", "if", "else", "for", "in", "None", "yield"],
    "javascript": ["function", "const", "let", "return", "import", "export", "await", "async", "this", "null"],
    "go": ["func", "return", "package", "import", "var", "err", "nil", "struct", "if", "range", "defer"],
    "java": ["public", "private", "static", "void", "class", "return", "new", "final", "this", "null"],
    "rust": ["fn", "let", "mut", "impl", "pub", "struct", "match", "Some", "None", "Ok", "Err", "use"],
    "c": ["int", "char", "void", "return", "struct", "static", "const", "if", "while", "NULL", "sizeof"],
    "cpp": ["auto", "const", "std", "return", "class", "template", "typename", "namespace", "nullptr"],
    "ruby": ["def", "end", "do", "class", "module", "return", "self", "nil", "require", "attr_reader"],
    "php": ["function", "public", "return", "echo", "array", "class", "namespace", "use", "null", "this"],
    "shell": ["if", "then", "fi", "echo", "export", "for", "do", "done", "local", "case", "esac"],
    "kotlin": ["fun", "val", "var", "return", "class", "object", "when", "null", "override", "data"],
    "scala": ["def", "val", "var", "object", "class", "case", "match", "import", "extends", "implicit"],
}
_PUNCT = ["(", ")", "{", "}", "[", "]", "=", "==", ",", ".", ":", ";", "->", "+", "*", "<", ">", "\"", "'"]


def _zipf_choice(rng: np.random.Generator, n_items: int, size: int, a: float = 1.2) -> np.ndarray:
    w = 1.0 / np.arange(1, n_items + 1) ** a
    return rng.choice(n_items, size=size, p=w / w.sum())


def _hex(rng: np.random.Generator, n: int, width: int) -> list[str]:
    raw = rng.integers(0, 256, size=(n, width // 2), dtype=np.uint8)
    return [r.tobytes().hex() for r in raw]


def _line_pool(rng: np.random.Generator, lang: str, n_lines: int) -> list[str]:
    """Source-like lines for one language: indentation, keywords, a shared
    identifier vocabulary, punctuation, literals and comments."""
    kw = _KEYWORDS[lang]
    idents = [f"{p}_{i}" for p in ("val", "buf", "node", "ctx", "item", "idx", "cfg", "req") for i in range(40)]
    lines = []
    for _ in range(n_lines):
        depth = int(rng.integers(0, 4))
        n_tok = int(rng.integers(2, 12))
        toks = []
        for _t in range(n_tok):
            r = rng.random()
            if r < 0.3:
                toks.append(kw[int(rng.integers(len(kw)))])
            elif r < 0.65:
                toks.append(idents[int(rng.integers(len(idents)))])
            elif r < 0.9:
                toks.append(_PUNCT[int(rng.integers(len(_PUNCT)))])
            else:
                toks.append(str(int(rng.integers(0, 100000))))
        line = "    " * depth + " ".join(toks)
        if rng.random() < 0.08:
            line += "  # " + " ".join(idents[int(i)] for i in rng.integers(0, len(idents), 4))
        lines.append(line)
    return lines


def raw_bytes(table: pa.Table) -> int:
    """Logical bytes of the values: UTF-8 bytes for strings/binary, the type
    width for fixed-width columns; nulls count zero."""
    total = 0
    for col in table.columns:
        t = col.type
        valid = len(col) - col.null_count
        if pa.types.is_string(t) or pa.types.is_large_string(t) or pa.types.is_binary(t):
            total += int(pc.sum(pc.binary_length(col)).as_py() or 0)
        elif pa.types.is_boolean(t):
            total += valid
        else:
            total += valid * (t.bit_width // 8)
    return total


def _slice_streams(rng: np.random.Generator, pools: dict, lang_idx: np.ndarray, sizes: np.ndarray) -> pa.Array:
    """Row i's content is the next ``sizes[i]`` bytes of its language's
    stream of randomly picked pool lines (ASCII, so bytes == chars)."""
    rows = len(sizes)
    parts, order = [], []
    for k, lang in enumerate(LANGS):
        sel = np.nonzero(lang_idx == k)[0]
        if not len(sel):
            continue
        pool = pools[lang]
        mean_len = sum(len(x) + 1 for x in pool) / len(pool)
        need = int(sizes[sel].sum())
        picks = rng.integers(0, len(pool), int(need / mean_len * 1.1) + 16)
        stream = "\n".join(pool[j] for j in picks)
        while len(stream) < need:
            stream += "\n" + stream
        offsets = np.zeros(len(sel) + 1, dtype=np.int64)
        np.cumsum(sizes[sel], out=offsets[1:])
        parts.append(pa.LargeStringArray.from_buffers(
            len(sel), pa.py_buffer(offsets.tobytes()), pa.py_buffer(stream[:need].encode())
        ).cast(pa.string()))
        order.append(sel)
    perm = np.concatenate(order)
    inv = np.empty(rows, dtype=np.int64)
    inv[perm] = np.arange(rows)
    return pa.concat_arrays(parts).take(pa.array(inv))


@functools.lru_cache(maxsize=4)
def _pools(seed: int) -> dict:
    rng = np.random.default_rng([seed, 0])
    return {lang: _line_pool(rng, lang, 1500) for lang in LANGS}


def text_table(seed: int, rows: int, content_cap: int = 200_000, median_bytes: int = 1200,
               n_repos: int = 300, stream: int = 0) -> pa.Table:
    """Source-code table ``(repo, path, commit, lang, content)`` plus three
    small typed columns (``size`` int64 = content bytes, ``mtime``
    timestamp, ``comment_ratio`` 2-decimal double) so that every workload
    feeds all four codec families and SUM has a numeric column.

    repo and lang are Zipf-skewed; content is assembled from per-language
    line pools (log-normal length, capped at ``content_cap``, with a few
    documents at the cap); ~1% null content, ~2% empty content, ~0.5% null
    lang, ~1% empty path."""
    pools = _pools(seed)
    rng = np.random.default_rng([seed, 1, stream])
    lang_idx = _zipf_choice(rng, len(LANGS), rows, a=1.1)
    repo_idx = _zipf_choice(rng, n_repos, rows, a=1.1)
    repos = [f"org{i % 37}/project-{i}" for i in range(n_repos)]
    sizes = np.minimum(rng.lognormal(np.log(median_bytes), 1.1, rows), content_cap).astype(np.int64)
    sizes[rng.choice(rows, size=max(1, rows // 2000), replace=False)] = content_cap
    u = rng.random(rows)
    sizes[(u >= 0.01) & (u < 0.03)] = 0
    content = _slice_streams(rng, pools, lang_idx, sizes)
    content = pc.if_else(pa.array(u < 0.01), pa.scalar(None, pa.string()), content)
    langs: list[str | None] = [LANGS[k] for k in lang_idx]
    for i in np.nonzero(rng.random(rows) < 0.005)[0]:
        langs[i] = None
    depth = rng.integers(1, 4, rows)
    names = rng.integers(0, 5000, rows)
    paths = [
        "/".join(f"d{(names[i] >> (3 * k)) % 8}" for k in range(depth[i]))
        + f"/file_{names[i]}.{_EXT[LANGS[lang_idx[i]]]}"
        for i in range(rows)
    ]
    for i in np.nonzero(rng.random(rows) < 0.01)[0]:
        paths[i] = ""
    base = np.datetime64("2015-01-01T00:00:00", "us").astype(np.int64)
    mtime = base + np.sort(rng.integers(0, 10 * 365 * 86_400, rows)) * 1_000_000
    ratio = np.round(rng.beta(2.0, 8.0, rows), 2)
    return pa.table({
        "repo": pa.array([repos[k] for k in repo_idx], pa.string()),
        "path": pa.array(paths, pa.string()),
        "commit": pa.array(_hex(rng, rows, 40), pa.string()),
        "lang": pa.array(langs, pa.string()),
        "content": content,
        "size": pc.binary_length(content).cast(pa.int64()),
        "mtime": pa.array(mtime, pa.timestamp("us", tz="UTC")),
        "comment_ratio": pa.array(ratio, pa.float64()),
    })


def numeric_table(seed: int, rows: int, stream: int = 0, key_base: int = 0) -> pa.Table:
    """Skinny lineitem-like typed table: sorted int64 keys, small ints,
    2-decimal and full-precision doubles, timestamps, low-cardinality
    strings, long runs, and nulls. Order keys start above ``key_base``, so
    an append batch (its own ``stream``) never repeats a key."""
    rng = np.random.default_rng([seed, 2, stream])
    lines_per_order = rng.integers(1, 8, rows)
    orderkey = key_base + np.repeat(np.cumsum(rng.integers(1, 40, rows)), lines_per_order)[:rows].astype(np.int64)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines_per_order])[:rows].astype(np.int32)
    quantity = rng.integers(1, 51, rows).astype(np.int32)
    price = np.round(rng.uniform(900.0, 105000.0, rows), 2)
    discount = np.round(rng.integers(0, 11, rows) / 100.0, 2)
    tax = np.round(rng.integers(0, 9, rows) / 100.0, 2)
    score = rng.normal(0.0, 1.0, rows)
    base = np.datetime64("1992-01-01T00:00:00", "us").astype(np.int64)
    day_us = 86_400_000_000
    ship = base + (orderkey // 50) * (day_us // 10) + rng.integers(0, 120, rows) * day_us
    ship = ship + rng.integers(0, 86_400, rows) * 1_000_000
    flags = np.array(["A", "N", "R"])[_zipf_choice(rng, 3, rows, a=0.8)]
    modes = np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"])[rng.integers(0, 7, rows)]
    run_len = rng.integers(200, 4000, rows // 200 + 2)
    status = np.repeat(rng.integers(0, 4, len(run_len)), run_len)[:rows].astype(np.int8)
    suppkey = rng.integers(1, 10_000, rows).astype(np.int64)
    supp_null = rng.random(rows) < 0.05
    tax_null = rng.random(rows) < 0.03
    return pa.table({
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": pa.array(quantity, pa.int32()),
        "l_suppkey": pa.array(suppkey, pa.int64(), mask=supp_null),
        "l_extendedprice": pa.array(price, pa.float64()),
        "l_discount": pa.array(discount, pa.float64()),
        "l_tax": pa.array(tax, pa.float64(), mask=tax_null),
        "l_score": pa.array(score, pa.float64()),
        "l_shipdate": pa.array(ship, pa.timestamp("us", tz="UTC")),
        "l_returnflag": pa.array(flags, pa.string()),
        "l_shipmode": pa.array(modes, pa.string()),
        "l_status": pa.array(status, pa.int8()),
    })
