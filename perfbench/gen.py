"""Seeded input generators for the graft benchmark, plus the plain
reference implementation of the inverted index that checks graft's
26 letter files.

Every generator takes a numpy Generator built from the workload seed, so
one seed always gives byte-identical inputs. Sizes and distributions are
fixed; the seed only chooses content and order, so run-to-run work stays
comparable across seeds.
"""
import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# No generated word contains these letters, so q.txt and x.txt are
# always empty files: the sink must still create them.
EMPTY_LETTERS = b"qx"
ALPHABET = bytes(c for c in b"abcdefghijklmnopqrstuvwxyz"
                 if c not in EMPTY_LETTERS)

# Token decorations covering the reference tokenizer's corner cases:
# uppercase, punctuation and digits inside words, non-ASCII (valid UTF-8
# and a stray Latin-1 byte), and a \r glued to a word (CRLF text splits
# only on the \n; the \r is stripped as a non-letter).
_VARIANT_P = [0.78, 0.05, 0.02, 0.03, 0.03, 0.03, 0.02, 0.02, 0.02]
# Separators: the reference splits on space, tab and newline only.
_SEPS = [b" ", b"\n", b"\t", b"\r\n", b"  ", b" \t "]
_SEP_P = [0.84, 0.06, 0.04, 0.03, 0.02, 0.01]
# Tokens that normalize to nothing and must vanish from the index.
_NOISE = [b"1999", b"--", b"\xc3\xa9\xc3\xa9", b"42!", b"\xe4\xb8\xad"]


def _vocabulary(rng, size):
    """`size` distinct words in seeded (not sorted) order."""
    alphabet = np.frombuffer(ALPHABET, dtype=np.uint8)
    lens = rng.integers(2, 10, 2 * size)
    letters = alphabet[rng.integers(0, len(alphabet), lens.sum())].tobytes()
    ends = np.cumsum(lens)
    words = dict.fromkeys(letters[e - n:e] for e, n in zip(ends, lens))
    return list(words)[:size]


def _variant_table(rng, vocab):
    """Per word, one spelling per decoration class."""
    n = len(vocab)
    cut = rng.random(n)
    punct = rng.choice([b"'", b"-", b".", b","], n)
    digit = rng.integers(0, 3, n)
    utf8 = rng.choice(["é".encode(), "ß".encode(), "中".encode()], n)
    noise = rng.integers(0, len(_NOISE), n)
    table = np.empty((n, len(_VARIANT_P)), dtype=object)
    for i, w in enumerate(vocab):
        k = 1 + int(cut[i] * (len(w) - 1))
        table[i] = [
            w, w[:1].upper() + w[1:], w.upper(),
            w[:k] + punct[i] + w[k:],
            (w + b"42", b"3" + w, w[:k] + b"7" + w[k:])[digit[i]],
            w[:k] + utf8[i] + w[k:],
            w + b"\r",
            w[:k] + b"\xe9" + w[k:],
            _NOISE[noise[i]],
        ]
    return table


def _token_stream(rng, vocab_size, n_bytes):
    """(tokens and separators interleaved, byte length of each pair) of a
    Zipf-distributed decorated stream of at least `n_bytes`."""
    table = _variant_table(rng, _vocabulary(rng, vocab_size))
    lens = np.vectorize(len, otypes=[np.int64])(table)
    cdf = np.cumsum(1.0 / np.arange(1, vocab_size + 1))
    cdf /= cdf[-1]
    sep_lens = np.array([len(s) for s in _SEPS])
    mean = ((lens * _VARIANT_P).sum(axis=1) @ np.diff(cdf, prepend=0.0)
            + sep_lens @ _SEP_P)
    n = int(n_bytes / mean * 1.05) + 64
    widx = np.minimum(np.searchsorted(cdf, rng.random(n)), vocab_size - 1)
    vidx = rng.choice(len(_VARIANT_P), n, p=_VARIANT_P)
    sidx = rng.choice(len(_SEPS), n, p=_SEP_P)
    toks = np.empty(2 * n, dtype=object)
    toks[0::2] = table[widx, vidx]
    toks[1::2] = np.array(_SEPS, dtype=object)[sidx]
    return toks, lens[widx, vidx] + sep_lens[sidx]


def text_corpus(rng, root, sizes, vocab_size):
    """Write one file per entry of `sizes` (bytes, roughly) under
    `root/docs` and a reference manifest `root/manifest.txt` listing
    them in seeded order. Manifest ids are 1-based positions in that
    order, assigned independently of file size. Returns total bytes."""
    sizes = np.asarray(sizes, dtype=np.float64)
    toks, lens = _token_stream(rng, vocab_size, sizes.sum())
    ends = np.searchsorted(np.cumsum(lens), np.cumsum(sizes))
    docs = root / "docs"
    docs.mkdir(parents=True)
    order = rng.permutation(len(sizes))
    names = []
    start, total = 0, 0
    for i, end in enumerate(ends):
        end = max(int(end), start + 1)
        data = b"".join(toks[2 * start:2 * end].tolist())
        name = f"docs/f{order[i]:05d}.txt"
        (root / name).write_bytes(data)
        names.append(name)
        total += len(data)
        start = end
    manifest = [str(len(names))] + [names[j] for j in rng.permutation(
        len(names))]
    (root / "manifest.txt").write_text("\n".join(manifest) + "\n")
    return total


def heavy_tailed_sizes(rng, n, total, alpha=1.2, cap=0.08):
    """`n` file sizes summing to `total`: fixed Pareto quantiles (the
    same shape for every seed) capped at `cap` of the total."""
    q = (np.arange(n) + 0.5) / n
    s = (1.0 - q) ** (-1.0 / alpha)
    s = np.minimum(s / s.sum(), cap)
    return rng.permutation(s / s.sum() * total)


def short_sizes(rng, n, mean=300):
    return rng.permutation(np.linspace(mean * 0.6, mean * 1.4, n))


# -- plain reference inverted index ------------------------------------

_DROP = bytes(c for c in range(256)
              if not (65 <= c <= 90 or 97 <= c <= 122 or c in (9, 10, 32)))


def expected_letters(manifest):
    """The reference's 26 letter files, computed directly from the
    manifest: split on space/tab/newline, delete every non-letter byte,
    lowercase, drop empties, dedup per file; each letter file lists
    `word:[ids]` by posting length descending, then word ascending."""
    manifest = Path(manifest)
    lines = manifest.read_text().split("\n")
    n = int(lines[0].strip())
    postings = {}
    for doc_id, rel in enumerate(lines[1:n + 1], start=1):
        data = (manifest.parent / rel.strip()).read_bytes()
        for w in set(data.translate(None, _DROP).lower().split()):
            postings.setdefault(w, []).append(b"%d" % doc_id)
    letters = {chr(c): [] for c in range(ord("a"), ord("z") + 1)}
    for w, ids in postings.items():
        letters[chr(w[0])].append((-len(ids), w, ids))
    return {c: b"".join(b"%s:[%s]\n" % (w, b" ".join(ids))
                        for _, w, ids in sorted(rows))
            for c, rows in letters.items()}


# -- curated-ingest documents ------------------------------------------

_LANG_WORDS = {
    "en": "the and of to in is that with data stream batch query table "
          "value small fast window merge order join key scan".split(),
    "de": "der die das und ist nicht mit ein daten strom tabelle wert "
          "klein schnell fenster schluessel".split(),
    "fr": "le la de et un est que dans donnees flux table valeur petit "
          "rapide fenetre cle".split(),
    "es": "el la de que y en un es datos flujo tabla valor pequeno "
          "rapido ventana clave".split(),
    "zh": "de shi le zai he you wo ta shuju liu biao zhi xiao kuai".split(),
}


def _punctuate(rng, text):
    """An exact-duplicate variant: same normalized word stream, different
    case, punctuation and whitespace layout."""
    out = []
    for w in text.split(" "):
        r = rng.random()
        if r < 0.2:
            w = w.upper()
        elif r < 0.4:
            w = w.capitalize()
        if rng.random() < 0.2:
            w += str(rng.choice([",", ".", "!", ";"]))
        out.append(w)
    return "".join(t + str(rng.choice([" ", "  ", "\n"])) for t in out[:-1]) \
        + out[-1]


def curated_documents(rng, n_docs, path):
    """`n_docs` documents in five languages with planted exact duplicates
    (case/punctuation/whitespace variants) and near duplicates (one or
    two words changed), some below the 10-token quality floor; doc ids
    are a seeded permutation, so a copy can hold the lower id. Writes
    the `documents` table graft reads, and the same rows as JSON lines
    for the stream source, and returns the text bytes."""
    langs = list(_LANG_WORDS)
    base = []
    while len(base) < n_docs:
        lang = langs[int(rng.integers(len(langs)))]
        kind = rng.random()
        if base and kind < 0.12:
            src_lang, src = base[int(rng.integers(len(base)))]
            base.append((src_lang, _punctuate(rng, src)))
        elif base and kind < 0.24:
            src_lang, src = base[int(rng.integers(len(base)))]
            ws = src.split(" ")
            for _ in range(int(rng.integers(1, 3))):
                ws[int(rng.integers(len(ws)))] = str(
                    rng.choice(_LANG_WORDS[src_lang]))
            base.append((src_lang, " ".join(ws)))
        else:
            n = int(rng.integers(4, 90))
            base.append((lang, " ".join(
                str(w) for w in rng.choice(_LANG_WORDS[lang], n))))
    ids = rng.permutation(n_docs).astype(np.int64)
    texts = [t for _, t in base]
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([l for l, _ in base], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), path)
    with open(Path(path).with_suffix(".jsonl"), "w") as f:
        for i, (lang, text) in zip(ids.tolist(), base):
            f.write(json.dumps({"doc_id": i, "lang": lang, "text": text}) + "\n")
    return sum(len(t.encode()) for t in texts)


# -- TPC-H-style star schema -------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [f"NATION_{i}" for i in range(25)]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["small", "red", "blue", "hot", "old", "new", "big", "green"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "ring", "widget", "nut",
          "spring"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _days(rng, start, end, n):
    d0 = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - d0).astype(np.int64) + 1
    return (d0 + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_tables(rng, sf, out):
    """The star schema graft's TPC-H queries read, at scale factor `sf`,
    with the value domains of the queries' substitution parameters.
    Returns total parquet bytes."""
    out.mkdir(parents=True)
    n_cust, n_part = int(150000 * sf), int(200000 * sf)
    n_supp, n_ord = max(int(10000 * sf), 25), int(1500000 * sf)
    n_line = 4 * n_ord
    t = {}
    t["region"] = {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": REGIONS}
    t["nation"] = {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": NATIONS,
                   "n_regionkey": pa.array([i % 5 for i in range(25)],
                                           pa.int32())}
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist()}
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(P_ADJ, n_part),
                                               rng.choice(P_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part).tolist(),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0,
                                  2)}
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist()}
    okey = np.sort(rng.integers(0, n_ord, n_line)).astype(np.int64)
    first = np.r_[True, okey[1:] != okey[:-1]]
    starts = np.maximum.accumulate(np.where(first, np.arange(n_line), 0))
    t["lineitem"] = {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": (np.arange(n_line) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)}
    total = 0
    for name, cols in t.items():
        path = out / f"{name}.parquet"
        pq.write_table(pa.table(cols), path)
        total += path.stat().st_size
    return total


def tpch_params(rng):
    """Seeded substitution values for the parameterised queries, drawn
    from the generated tables' domains."""
    a, b = rng.choice(25, 2, replace=False)
    return {
        "q2.region": str(rng.choice(REGIONS)),
        "q7.nationA": NATIONS[a], "q7.nationB": NATIONS[b],
        "q8.nation": str(rng.choice(NATIONS)),
        "q8.region": str(rng.choice(REGIONS)),
        "q9.pattern": f"%{rng.choice(P_ADJ + P_NOUN)}%",
        "q11.nation": str(rng.choice(NATIONS)),
        "q18.minQty": str(int(rng.integers(290, 311))),
        "q20.ptype": str(rng.choice(P_TYPES)),
        "q21.nation": str(rng.choice(NATIONS)),
    }
