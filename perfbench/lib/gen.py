"""Seeded input generator for the three workloads.

Every input is a function of (workload, seed): the same seed writes
byte-identical parquet files. The program under test only ever reads
these files.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The word mix of the repo's `documents` test table: thirty equally
# frequent words plus a rare one.
DOC_WORDS = ("spark window merge table column vector stream value data small join "
             "filter big group hash customer sort order slow line part fast row the "
             "agg key query a scan batch").split()
DIM = 64


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _vec_array(mat):
    """float32 matrix -> list<float> arrow array."""
    flat = pa.array(mat.astype(np.float32).ravel(), type=pa.float32())
    offsets = pa.array(np.arange(0, mat.shape[0] * mat.shape[1] + 1, mat.shape[1],
                                 dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def _texts(rng, vocab, lengths, probs=None):
    idx = rng.choice(len(vocab), size=int(lengths.sum()), p=probs)
    words = np.asarray(vocab, dtype=object)[idx]
    out, pos = [], 0
    for n in lengths:
        out.append(" ".join(words[pos:pos + n]))
        pos += n
    return out


def _zipf_vocab(rng, n):
    """`n` distinct pseudo-words and Zipf(1.1) frequencies over them."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words, seen = [], set()
    while len(words) < n:
        w = "".join(rng.choice(letters, size=int(rng.integers(3, 10))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    p = 1.0 / np.arange(1, n + 1) ** 1.1
    return words, p / p.sum()


def embed_bulk(out, seed, n_docs=10000, n_sample=40, files=8):
    """Corpus with the `documents` table's length and word mix (10-100
    words), plus a 3% tail of 520-700-word documents, past the dense and
    sparse pipelines' 512-token maxLength."""
    rng = np.random.default_rng([seed, 1])
    lengths = rng.integers(10, 101, size=n_docs)
    long_docs = rng.random(n_docs) < 0.03
    lengths[long_docs] = rng.integers(520, 701, size=int(long_docs.sum()))
    probs = np.full(len(DOC_WORDS) + 1, 0.995 / len(DOC_WORDS))
    probs[-1] = 0.005
    texts = _texts(rng, DOC_WORDS + ["dup"], lengths, probs)
    ids = np.arange(n_docs, dtype=np.int64)
    for f in range(files):
        sl = slice(f * n_docs // files, (f + 1) * n_docs // files)
        _write(pa.table({"doc_id": ids[sl], "text": texts[sl]}),
               f"{out}/corpus/part-{f:05d}.parquet")
    # the oracle sample: seeded, and always holding some long documents
    longs = np.flatnonzero(long_docs)
    pick = np.concatenate([rng.choice(longs, size=min(4, len(longs)), replace=False),
                           rng.choice(np.flatnonzero(~long_docs), size=n_sample - 4,
                                      replace=False)])
    pick.sort()
    _write(pa.table({"doc_id": ids[pick], "text": [texts[i] for i in pick]}),
           f"{out}/sample/part-00000.parquet")


# index_serve's op cycle after the three warm-up ops: reads dominate,
# and a fixed order keeps the mix of a short run the same for every seed.
SERVE_CYCLE = ("search", "ingest", "search", "search", "search", "delete", "search", "search")


def index_serve(out, seed, n_base=4000, n_centers=64, n_queries=256, n_recall=384,
                n_ops=600, query_batch=4, ingest_rows=32, update_share=0.25,
                delete_rows=8, files=4):
    """Clustered vectors with short texts, query and recall pools, a
    seeded op schedule and one parquet file per ingest micro-batch.

    The schedule is simulated against the live set here, so updates
    re-embed ids that are live at that point (favouring recent ones),
    deletes remove live ids, and no id is ever re-inserted."""
    rng = np.random.default_rng([seed, 2])
    vocab, wp = _zipf_vocab(rng, 2000)
    centers = rng.normal(0.0, 1.0, size=(n_centers, DIM))

    def rows(n):
        c = rng.integers(0, n_centers, size=n)
        vec = centers[c] + rng.normal(0.0, 0.35, size=(n, DIM))
        text = _texts(rng, vocab, rng.integers(20, 41, size=n), wp)
        return vec.astype(np.float32), text

    def table(ids, vec, text, id_col="id"):
        return pa.table({id_col: pa.array(ids, pa.int64()), "text": text,
                         "vec": _vec_array(vec)})

    vec, text = rows(n_base)
    ids = np.arange(n_base, dtype=np.int64)
    for f in range(files):
        sl = slice(f * n_base // files, (f + 1) * n_base // files)
        _write(table(ids[sl], vec[sl], text[sl]), f"{out}/base/part-{f:05d}.parquet")

    def query_pool(n, qid0):
        src = rng.integers(0, n_base, size=n)
        qv = vec[src] + rng.normal(0.0, 0.1, size=(n, DIM))
        qt = [" ".join(rng.choice(text[s].split(), size=4)) for s in src]
        return table(np.arange(qid0, qid0 + n), qv.astype(np.float32), qt, "qid")

    _write(query_pool(n_queries, 0), f"{out}/queries/part-00000.parquet")
    _write(query_pool(n_recall, 1_000_000), f"{out}/recall/part-00000.parquet")

    live = list(range(n_base))          # insertion order; recent ids at the end
    next_id = n_base
    kinds, args, del_ids = [], [], []
    n_search = n_ingest = 0
    for i in range(n_ops):
        kind = ("search", "ingest", "delete")[i] if i < 3 else \
            SERVE_CYCLE[(i - 3) % len(SERVE_CYCLE)]
        ids_here = []
        if kind == "search":
            args.append(n_search)
            n_search += 1
        elif kind == "ingest":
            n_upd = int(round(ingest_rows * update_share))
            recent = live[-500:]
            # recent-favoured updates: weight grows with recency
            w = np.arange(1, len(recent) + 1, dtype=float)
            upd = rng.choice(recent, size=n_upd, replace=False, p=w / w.sum())
            new = np.arange(next_id, next_id + ingest_rows - n_upd, dtype=np.int64)
            next_id += len(new)
            bvec, btext = rows(ingest_rows)
            bids = np.concatenate([np.asarray(upd, dtype=np.int64), new])
            _write(table(bids, bvec, btext),
                   f"{out}/ingest/batch-{n_ingest:05d}.parquet")
            for u in upd:                      # an update makes an id recent again
                live.remove(u)
                live.append(int(u))
            live.extend(int(x) for x in new)
            args.append(n_ingest)
            n_ingest += 1
        else:
            victims = rng.choice(live, size=delete_rows, replace=False)
            ids_here = sorted(int(v) for v in victims)
            for v in ids_here:
                live.remove(v)
            args.append(0)
        kinds.append(str(kind))
        del_ids.append(ids_here)
    _write(pa.table({"seq": pa.array(range(n_ops), pa.int32()), "kind": kinds,
                     "arg": pa.array(args, pa.int32()),
                     "ids": pa.array(del_ids, pa.list_(pa.int64()))}),
           f"{out}/schedule/part-00000.parquet")
    _write(pa.table({"warmup_ops": pa.array([3], pa.int32()),
                     "query_batch": pa.array([query_batch], pa.int32()),
                     "cycle": pa.array([len(SERVE_CYCLE)], pa.int32()),
                     "warmup_searches": pa.array([4], pa.int32())}),
           f"{out}/meta/part-00000.parquet")


def curate_corpus(out, seed, n_docs=600, n_exact=30, n_chains=120, n_vecs=600,
                  n_neighbour=40, threshold=0.7, knn=5, merges=24, files=4):
    """Corpus over a Zipf vocabulary with planted exact-duplicate groups
    (2-4 copies) and near-duplicate chains (3-10 documents, each one
    word away from the previous, so connected components needs several
    rounds), plus vectors with planted neighbour groups (2-5 members)."""
    rng = np.random.default_rng([seed, 3])
    vocab, wp = _zipf_vocab(rng, 4000)
    base = _texts(rng, vocab, rng.integers(30, 91, size=n_docs), wp)
    docs = list(base)
    groups = []   # (group, kind, doc index)
    g = 0
    for _ in range(n_exact):
        src = int(rng.integers(0, n_docs))
        members = [src]
        for _ in range(int(rng.integers(1, 4))):
            docs.append(base[src])
            members.append(len(docs) - 1)
        groups += [(g, "exact", m) for m in members]
        g += 1
    for _ in range(n_chains):
        src = int(rng.integers(0, n_docs))
        members, cur = [src], base[src].split()
        for _ in range(int(rng.integers(2, 10))):
            cur = list(cur)
            cur[int(rng.integers(0, len(cur)))] = vocab[int(rng.choice(len(vocab), p=wp))]
            docs.append(" ".join(cur))
            members.append(len(docs) - 1)
        groups += [(g, "near", m) for m in members]
        g += 1
    # shuffle so planted members are not adjacent ids
    perm = rng.permutation(len(docs))
    new_id = np.empty(len(docs), dtype=np.int64)
    new_id[perm] = np.arange(len(docs))
    texts = [docs[i] for i in perm]
    ids = np.arange(len(docs), dtype=np.int64)
    for f in range(files):
        sl = slice(f * len(docs) // files, (f + 1) * len(docs) // files)
        _write(pa.table({"id": ids[sl], "text": texts[sl]}), f"{out}/corpus/part-{f:05d}.parquet")

    vec = rng.normal(0.0, 1.0, size=(n_vecs, DIM))
    vgroups, pos = [], 0
    for _ in range(n_neighbour):
        size = int(rng.integers(2, 6))
        center = rng.normal(0.0, 1.0, size=DIM)
        vec[pos:pos + size] = center + rng.normal(0.0, 0.1, size=(size, DIM))
        vgroups.append(list(range(pos, pos + size)))
        pos += size
    vperm = rng.permutation(n_vecs)
    vnew = np.empty(n_vecs, dtype=np.int64)
    vnew[vperm] = np.arange(n_vecs)
    vids = np.arange(n_vecs, dtype=np.int64)
    _write(pa.table({"id": vids, "vec": _vec_array(vec[vperm])}), f"{out}/vecs/part-00000.parquet")
    rows_ = [(grp, kind, int(new_id[m])) for grp, kind, m in groups]
    rows_ += [(n_exact + n_chains + j, "neighbour", int(vnew[m]))
              for j, members in enumerate(vgroups) for m in members]
    _write(pa.table({"group": pa.array([r[0] for r in rows_], pa.int64()),
                     "kind": [r[1] for r in rows_],
                     "id": pa.array([r[2] for r in rows_], pa.int64())}),
           f"{out}/groups/part-00000.parquet")
    _write(pa.table({"threshold": [float(threshold)], "knn": pa.array([knn], pa.int32()),
                     "merges": pa.array([merges], pa.int32())}),
           f"{out}/meta/part-00000.parquet")


WORKLOADS = {"embed_bulk": embed_bulk, "index_serve": index_serve}


def generate(workload, out, seed, trace=False):
    """Write the inputs of `workload` for `seed` into `out` (replaced).
    A traced embed_bulk run also gets the curation probe's corpus under
    `curate/`."""
    if os.path.exists(out):
        shutil.rmtree(out)
    WORKLOADS[workload](out, seed)
    if trace and workload == "embed_bulk":
        curate_corpus(f"{out}/curate", seed)
