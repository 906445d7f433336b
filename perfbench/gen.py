"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same seed gives
byte-identical files.  The generators never call into ``transmog_spark`` (a
change to the program cannot change its own inputs).  Outputs are cached
under ``<root>/.perfbench_cache/<workload>-s<seed>-n<size>/`` with an
``info.json`` that records the expected counts and the generation time;
generation time is reported on its own and never enters an end-to-end
metric.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

CACHE_DIR = ".perfbench_cache"
EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

# ---------------------------------------------------------------- flatten_save
ROLES = ["engineer", "manager", "analyst", "designer", None, ""]
STATUSES = ["active", "inactive", "pending", None, ""]


def n_tags(i: int) -> int:
    return i % 4


def n_departments(i: int) -> int:
    return 1 + i % 3


def n_teams(i: int, d: int) -> int:
    return 1 + (i + d) % 2


def n_members(i: int, d: int, t: int) -> int:
    return (i + 2 * d + t) % 4


def flatten_table_counts(n: int) -> dict[str, int]:
    """Closed-form row count of each table ``flatten_records`` produces in
    ``array_mode='separate'`` for entity ``company``."""
    deps = teams = members = 0
    for i in range(n):
        for d in range(n_departments(i)):
            deps += 1
            for t in range(n_teams(i, d)):
                teams += 1
                members += n_members(i, d, t)
    return {
        "company": n,
        "company_tags": sum(n_tags(i) for i in range(n)),
        "company_organization_departments": deps,
        "company_teams": teams,
        "company_members": members,
    }


def company_record(i: int, rng: random.Random) -> dict:
    """One nested record: struct, simple array, a three-level array of
    structs, and null-likes (``None`` and ``""``) in scalar fields.  Every
    record carries every key, so the record Spark infers equals this dict."""
    depts = []
    for d in range(n_departments(i)):
        teams = []
        for t in range(n_teams(i, d)):
            members = [
                {
                    "id": f"m{i}-{d}-{t}-{m}",
                    "name": f"member {rng.randrange(10**6)}",
                    "role": rng.choice(ROLES),
                }
                for m in range(n_members(i, d, t))
            ]
            teams.append({"id": f"t{i}-{d}-{t}", "name": f"team {rng.randrange(1000)}", "members": members})
        depts.append(
            {
                "id": f"d{i}-{d}",
                "name": f"dept {rng.randrange(1000)}",
                "budget": rng.choice([None, round(rng.uniform(1e3, 1e6), 2)]),
                "teams": teams,
            }
        )
    created = EPOCH + timedelta(seconds=rng.randrange(86400 * 365))
    return {
        "id": i,
        "name": f"Company {rng.randrange(10**9)}",
        "status": rng.choice(STATUSES),
        "active": rng.random() < 0.5,
        "score": rng.choice([None, round(rng.uniform(0, 100), 2)]),
        "metadata": {
            "created_at": created.strftime("%Y-%m-%dT%H:%M:%SZ"),
            "version": rng.randrange(1, 20),
            "note": rng.choice([None, "", "audited", "imported"]),
        },
        "tags": [f"tag{rng.randrange(50)}" for _ in range(n_tags(i))],
        "organization": {
            "id": f"org{i}",
            "name": f"Org {rng.randrange(10**6)}",
            "departments": depts,
        },
    }


def gen_flatten(out_dir: str, n: int, seed: int) -> dict:
    rng = random.Random(f"flatten:{seed}")
    path = os.path.join(out_dir, "records.jsonl")
    with open(path, "w", encoding="utf-8") as fh:
        for i in range(n):
            fh.write(json.dumps(company_record(i, rng), ensure_ascii=False))
            fh.write("\n")
    return {
        "records": path,
        "input_rows": n,
        "input_bytes": os.path.getsize(path),
        "table_counts": flatten_table_counts(n),
    }


# ---------------------------------------------------------------- pit_features
N_SOURCES = 20


def gen_pit(out_dir: str, n: int, seed: int) -> dict:
    """North-rule tables: ``sequences`` (half the rows in one hot source),
    nested revision ``meta`` and ``feature_events`` (4 per doc)."""
    rng = random.Random(f"pit:{seed}")
    day30 = 86400 * 30
    ids, toks, ntoks, srcs = [], [], [], []
    m_src, m_meta = [], []
    f_id, f_ts, f_v = [], [], []
    for i in range(n):
        did = f"doc{i:09d}"
        src = "src_hot" if rng.random() < 0.5 else f"src_{rng.randrange(N_SOURCES):02d}"
        k = rng.randrange(8, 65)
        ids.append(did)
        toks.append([rng.randrange(50_000) for _ in range(k)])
        ntoks.append(k)
        srcs.append(src)
        revs = [
            {
                "rev": r,
                "editor": f"editor_{rng.randrange(10):02d}",
                "ts": EPOCH + timedelta(seconds=rng.randrange(day30)),
                "n_tok": rng.randrange(8, 65),
            }
            for r in range(1, 2 + rng.randrange(3))
        ]
        m_src.append(src)
        m_meta.append({"lang": rng.choice(["en", "de", "fr", "es", "zh"]), "quality": rng.randrange(1000) / 1000.0, "revisions": revs})
        for _ in range(4):
            f_id.append(did)
            f_ts.append(EPOCH + timedelta(seconds=rng.randrange(day30)))
            f_v.append(rng.randrange(100_000) / 1000.0)
    ts_t = pa.timestamp("us", tz="UTC")
    seq = pa.table(
        {
            "doc_id": pa.array(ids, pa.string()),
            "tokens": pa.array(toks, pa.list_(pa.int32())),
            "n_tok": pa.array(ntoks, pa.int32()),
            "source": pa.array(srcs, pa.string()),
        }
    )
    rev_t = pa.struct([("rev", pa.int32()), ("editor", pa.string()), ("ts", ts_t), ("n_tok", pa.int32())])
    meta_t = pa.struct([("lang", pa.string()), ("quality", pa.float64()), ("revisions", pa.list_(rev_t))])
    meta = pa.table(
        {
            "doc_id": pa.array(ids, pa.string()),
            "source": pa.array(m_src, pa.string()),
            "meta": pa.array(m_meta, meta_t),
        }
    )
    fe = pa.table(
        {
            "doc_id": pa.array(f_id, pa.string()),
            "ts": pa.array(f_ts, ts_t),
            "feature_v": pa.array(f_v, pa.float64()),
        }
    )
    paths = {}
    for name, tbl in (("sequences", seq), ("meta", meta), ("feature_events", fe)):
        p = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, p, row_group_size=max(1, n // 4))
        paths[name] = p
    return {
        **paths,
        "input_rows": n,
        "input_bytes": sum(os.path.getsize(p) for p in paths.values()),
        "revisions": sum(len(m["revisions"]) for m in m_meta),
        "tokens": sum(ntoks),
    }


# ---------------------------------------------------------------- curate_shards
# Stopwords the quality gate counts; they sit inside the corpus chain so the
# stopword ratio and the bigram perplexity both look like running text.
STOPWORDS = ["the", "of", "and", "to", "in", "a", "is", "it"]
BENCH_MOD = 97  # the job's default held-out slice: doc_id % 97 = 0


def _vocab(rng: random.Random, size: int, alphabet: str) -> list[str]:
    words: set[str] = set()
    while len(words) < size:
        words.add("".join(rng.choice(alphabet) for _ in range(rng.randrange(3, 10))))
    return sorted(words)


def _chain(
    rng: random.Random, words: list[str], succ: int = 5, stop: list[str] = ()
) -> dict[str, list[str]]:
    """Each word gets ``succ`` successors; with ``stop`` one of them is a
    stopword, so stopwords make up about a fifth of a walk."""
    chain = {}
    for w in words:
        nxt = rng.sample(words, succ - 1 if stop else succ)
        chain[w] = nxt + [rng.choice(stop)] if stop else nxt
    return chain


def _walk(rng: random.Random, chain: dict[str, list[str]], words: list[str], k: int) -> list[str]:
    w = rng.choice(words)
    out = [w]
    for _ in range(k - 1):
        w = rng.choice(chain[w])
        out.append(w)
    return out


def gen_corpus(out_dir: str, n: int, seed: int) -> dict:
    """Curation corpus with a realistic funnel under the job's defaults.

    Corpus docs are walks of a 300-word Markov chain (5 successors per
    word, stopwords inside the chain).  The held-out slice (``doc_id % 97 =
    0``) walks a disjoint chain.  Planted, as shares of corpus docs: ~4%
    too short and ~2% repetitive (quality gate), ~3% with a 25-word window
    copied from a held-out doc (decontamination), ~5% exact copies and ~20%
    near copies with ~5% of words substituted (dedup), ~10% carrying one of
    a few shared boilerplate sentences (span strip).
    """
    rng = random.Random(f"corpus:{seed}")
    words_a = sorted(set(_vocab(rng, 292, "abcdefghiklmnoprstu")) | set(STOPWORDS))
    chain_a = _chain(rng, words_a, stop=STOPWORDS)
    words_b = [w for w in _vocab(rng, 300, "bcdfgjkqvwxyz") if w not in set(words_a)]
    chain_b = _chain(rng, words_b)
    boiler = [" ".join(_walk(rng, chain_a, words_a, 15)) for _ in range(8)]

    texts: dict[int, str] = {}
    originals: list[int] = []  # plain corpus docs that copies may point at
    bench_docs: list[list[str]] = []
    kinds = {"short": 0, "repetitive": 0, "contaminated": 0, "exact": 0, "near": 0, "boiler": 0}
    ids = list(range(1, n + 1))
    for i in ids:
        if i % BENCH_MOD == 0:
            toks = _walk(rng, chain_b, words_b, rng.randrange(60, 120))
            bench_docs.append(toks)
            texts[i] = " ".join(toks)
            continue
        u = rng.random()
        if u < 0.04:
            kinds["short"] += 1
            toks = _walk(rng, chain_a, words_a, rng.randrange(6, 16))
        elif u < 0.06:
            kinds["repetitive"] += 1
            pair = _walk(rng, chain_a, words_a, 2)
            toks = pair * rng.randrange(15, 30)
        elif u < 0.09 and bench_docs:
            kinds["contaminated"] += 1
            toks = _walk(rng, chain_a, words_a, rng.randrange(50, 110))
            src = rng.choice(bench_docs)
            at = rng.randrange(0, len(src) - 25)
            pos = rng.randrange(0, len(toks))
            toks[pos:pos] = src[at : at + 25]
        elif u < 0.14 and originals:
            kinds["exact"] += 1
            texts[i] = texts[rng.choice(originals)]
            continue
        elif u < 0.34 and originals:
            kinds["near"] += 1
            toks = texts[rng.choice(originals)].split(" ")
            for _ in range(max(1, len(toks) // 20)):
                toks[rng.randrange(len(toks))] = rng.choice(words_a)
        else:
            toks = _walk(rng, chain_a, words_a, rng.randrange(50, 110))
            originals.append(i)
        if rng.random() < 0.10:
            kinds["boiler"] += 1
            toks = toks + rng.choice(boiler).split(" ")
        texts[i] = " ".join(toks)
    sources = [rng.choice(["web", "books", "news", "forum"]) for _ in ids]
    tbl = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "source": pa.array(sources, pa.string()),
            "text": pa.array([texts[i] for i in ids], pa.string()),
        }
    )
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(tbl, path, row_group_size=max(1, n // 4))
    return {
        "docs": path,
        "input_rows": n,
        "input_bytes": os.path.getsize(path),
        "planted": kinds,
    }


GENERATORS = {"flatten_save": gen_flatten, "pit_features": gen_pit, "curate_shards": gen_corpus}


def ensure_inputs(root: str, workload: str, seed: int, size: int) -> dict:
    """Generate (or reuse) the inputs of ``workload`` for ``(seed, size)``.

    Returns the generator's info dict plus ``gen_s`` (0 when cached) and
    ``cached``."""
    key = f"{workload}-s{seed}-n{size}"
    out = os.path.join(root, CACHE_DIR, key)
    info_path = os.path.join(out, "info.json")
    if os.path.exists(info_path):
        with open(info_path, encoding="utf-8") as fh:
            info = json.load(fh)
        return {**info, "gen_s": 0.0, "cached": True}
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    info = GENERATORS[workload](tmp, size, seed)
    gen_s = time.perf_counter() - t0
    # paths in info point into tmp; rewrite to the final directory
    info = {k: (v.replace(tmp, out) if isinstance(v, str) else v) for k, v in info.items()}
    info["first_gen_s"] = gen_s
    with open(os.path.join(tmp, "info.json"), "w", encoding="utf-8") as fh:
        json.dump(info, fh, indent=1)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return {**info, "gen_s": gen_s, "cached": False}
