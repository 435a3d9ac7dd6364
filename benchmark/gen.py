"""Seeded input generators for the benchmark workloads.

Every generator takes the run's ``--seed``, draws from its own seeded
``numpy`` generator and writes its inputs under a directory it is
given; it returns the ground truth the output checks need. The same
seed gives byte-identical files. Nothing here imports the engine: the
inputs the engine sees are plain CSV and parquet files.

``SIZES`` keeps one run of a gated workload (JVM start, set-up, the
timed ops and the checks) under a minute on a 4-core VM.
"""

from __future__ import annotations

import csv
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "etl_pua_keys": 10_000,  # distinct PUA business keys
    "etl_cpa_keys": 3_000,  # distinct valid CPA (UIN, JOB) keys
    "docs": 1_000,  # curation_batch corpus
    "incoming_docs": 100,  # curation_batch's one streamed batch after curation
    "vectors": 4_000,  # ann_serve store
    "stream_batches": 40,  # stream_ingest batch files available
    "stream_batch_docs": 150,
}

FISCAL_YEAR_END = 2024
STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input family, so adding one family
    never shifts another's draws."""
    tag = int.from_bytes(stream.encode(), "little") % (2**32)
    return np.random.default_rng([seed, tag])


# ----------------------------------------------------------- payroll --


@dataclass
class PayrollTruth:
    pua_keys: set = field(default_factory=set)  # (UIN, Pay Event, Job Number)
    pua_null_title: int = 0  # surviving keys whose TS-Org code is unmatched
    pua_int_reason: int = 0  # surviving keys with a missing ADJ reason code
    pua_time_entry: dict = field(default_factory=dict)  # TE M -> majority method
    cpa_keys: set = field(default_factory=set)  # (UIN, Job Number)
    cpa_null_title: int = 0
    input_rows: int = 0


PUA_HEADER = [
    "UIN", "Year", "Pay ID", "Pay #", "Seq #", "POSN", "SUFF", "TS COA",
    "TS ORG", "DEPT Code", "Department Name", "ECLS", "ECLS DESC", "TE M",
    "College Code", "College Name", "Earn Code", "DESCRIPTION",
    # header variants the pipeline must normalize (FIXTURES.md §1)
    "ADj Reason Code", "Adj Reason", "Calc Date",
]

CPA_HEADER = [
    "UIN", "PAY_YEAR", "PAY_ID", "PAY_NBR", "PAY_SEQ", "TRAN_ID",
    "TRAN_COMPNT", "ADJ_REASON", "TRAN_CREATE_DT", "TRAN_CLOSED_DT",
    "JOB", "JOB_TITLE", "JOB_TS_COAS", "JOB_TS_ORGN", "JOB_ECLS",
    "COLLEGE", "OWNING_UIN", "LAST_NAME", "FIRST_NAME",
    "UI_ENTERPRISE_ID", "EMAIL_ADDR", "HRLY_RATE", "RT_LEAVE_DT",
    "RT_ENTER_DT", "RT_CREATE_DT", "LVL", "ROLE", "ACTION",
    "ROUTED_BY_UIN", "RETURNED_FLAG", "TRAN_ROUTE_DT",
    "ELAPSED_WORK_TIME", "ROUTE_STOP_TIME", "ELAPSED_TRAN_TIME",
]

_ECLASSES = ["AA", "AB", "BA", "BC", "CD", "EX", "GA", "HA", "SA", "TA"]
_PAY_IDS = ["BW", "MN"]
_TE_CODES = ["W", "D", "T", "X"]  # X is absent from the te_m map
_TE_METHODS = ["Web Time Entry", "Dept Time Entry", "Time Clock"]
_COLLEGES = [("KL", "Engineering"), ("KV", "Liberal Arts"), ("KP", "Business"),
             ("NE", "Law"), ("LP", "Medicine")]
_MISSING = ["", "nan", "NaN"]


def _write_csv(path: str, header: list[str], rows: list[list[str]]) -> None:
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def _pad(rng: np.random.Generator, s: str) -> str:
    return f" {s} " if rng.random() < 0.1 else s


def _dotzero(rng: np.random.Generator, s: str) -> str:
    return f"{s}.0" if rng.random() < 0.3 else s


def gen_payroll(seed: int, out_dir: str) -> PayrollTruth:
    """PUA fact CSV, the BW/MN certification CSVs and the four lookup
    CSVs (FIXTURES.md §1-3), with the messiness the cleanse stage
    defends against, planted duplicates, planted unmatched lookup keys
    and planted out-of-window certification rows."""
    rng = rng_for(seed, "payroll")
    os.makedirs(out_dir, exist_ok=True)
    truth = PayrollTruth()

    # -- dimensions: org codes, some facts point at codes absent here --
    n_orgs = 400
    orgs = [(str(int(rng.integers(1, 10))), str(int(rng.integers(100000, 1000000))))
            for _ in range(n_orgs)]
    orgs = list(dict.fromkeys(orgs))
    n_known = int(len(orgs) * 0.9)  # last 10% are planted unmatched codes
    known = set(orgs[:n_known])
    ts_org_rows = [[f"{c}-{o}", f"Org {c}{o}"] for c, o in orgs[:n_known]]
    ts_org_rows += ts_org_rows[:25]  # duplicate lookup rows (dedup_dim)
    _write_csv(f"{out_dir}/ts_org.csv", ["TS-Org Code", "TS-Org Title"], ts_org_rows)
    dept_rows = sorted({(c, o[:3]) for c, o in orgs})
    _write_csv(
        f"{out_dir}/ts_dept.csv",
        ["TS-Org Dept Code", "TS-Org Dept Title"],
        [[f"{c}-{d}", f"Dept {c}{d}"] for c, d in dept_rows],
    )
    _write_csv(
        f"{out_dir}/overtime_eclass.csv",
        ["Job Eclass", "Pay ID", "Overtime FLSA", "Job Detail E-Class Long Desc"],
        [[e, p, "Eligible" if i % 3 else "Exempt", f"{e} {p} long desc"]
         for i, e in enumerate(_ECLASSES[:-1]) for p in _PAY_IDS],
    )

    # -- PUA facts --
    pua_rows: list[list[str]] = []
    uins = rng.choice(np.arange(600_000_000, 700_000_000), size=SIZES["etl_pua_keys"],
                      replace=False)
    for i, u in enumerate(uins):
        uin = str(int(u))
        year, pay_id = "2024", _PAY_IDS[i % 2]
        pay_nbr, seq = str(int(rng.integers(1, 27))), str(int(rng.integers(0, 3)))
        posn, suff = str(int(rng.integers(100000, 1000000))), str(int(rng.integers(0, 10)))
        coa, org = orgs[int(rng.integers(0, len(orgs)))]
        ecls = _ECLASSES[int(rng.integers(0, len(_ECLASSES)))]
        te = _TE_CODES[int(rng.integers(0, len(_TE_CODES)))]
        cc, cn = _COLLEGES[int(rng.integers(0, len(_COLLEGES)))]
        missing_reason = rng.random() < 0.2
        calc = "not-a-date" if rng.random() < 0.02 else (
            f"2024-{int(rng.integers(1, 13)):02d}-{int(rng.integers(1, 29)):02d}")
        row = [
            uin if i % 7 else f" {uin} ", year, pay_id, pay_nbr, seq,
            _dotzero(rng, posn), _dotzero(rng, suff), coa, org,
            _dotzero(rng, org[:3]), _pad(rng, f"Dept name {org[:3]}"), ecls,
            _pad(rng, f"{ecls} class"), te, cc, cn, "RGS", "Regular",
            _MISSING[i % 3] if missing_reason else "ADJ",
            _MISSING[i % 3] if missing_reason else "Adjustment", calc,
        ]
        pua_rows.append(row)
        truth.pua_keys.add((uin, f"{year}{pay_id}{pay_nbr}{seq}", f"{posn}-{suff}"))
        truth.pua_null_title += (coa, org) not in known
        truth.pua_int_reason += missing_reason
    # planted duplicates: same business key, rendered differently
    n_dup = len(pua_rows) // 20
    for j in rng.choice(len(pua_rows), size=n_dup, replace=False):
        dup = list(pua_rows[int(j)])
        dup[0] = f" {dup[0].strip()} "
        dup[5] = dup[5] if dup[5].endswith(".0") else dup[5] + ".0"
        pua_rows.append(dup)
    order = rng.permutation(len(pua_rows))
    _write_csv(f"{out_dir}/pua.csv", PUA_HEADER, [pua_rows[int(k)] for k in order])

    # -- CPA certifications: unique (UIN, JOB) and TRAN_ID per valid row --
    cert: list[list[str]] = []
    te_m_rows: list[list[str]] = []
    cuins = rng.choice(np.arange(100_000_000, 200_000_000), size=SIZES["etl_cpa_keys"],
                       replace=False)
    fy = FISCAL_YEAR_END

    def cert_row(k: int, uin: str, job: str, action: str, created: str) -> list[str]:
        coa, org = orgs[int(rng.integers(0, len(orgs)))]
        cc, cn = _COLLEGES[int(rng.integers(0, len(_COLLEGES)))]
        college = f"{cc}-{cn}" if k % 11 else cn  # a few no-hyphen values
        return [
            uin, str(fy), _PAY_IDS[k % 2], _dotzero(rng, str(k % 26 + 1)), "0",
            f"T{k:08d}", "1", "ADJ", created, created, job, "Research Asst", coa,
            org, _ECLASSES[k % len(_ECLASSES)], college, uin, f"Last{k}", f"First{k}",
            f"id{k}", f"u{k}@example.edu", f"{15 + k % 20}.50", created, created,
            created, "1", "Approver", action, uin, "N", created, "1.5", "0.5", "2.0",
        ]

    def day(lo: int, hi: int) -> str:
        d = np.datetime64(f"{fy - 1}-07-01") + int(rng.integers(lo, hi))
        return f"{d} {int(rng.integers(0, 24)):02d}:00:00"

    for k, u in enumerate(cuins):
        uin, job = str(int(u)), f"J{k:06d}"
        row = cert_row(k, uin, job, "3 - Apply", day(0, 365))
        cert.append(row)
        truth.cpa_keys.add((uin, job))
        truth.cpa_null_title += (row[12], row[13]) not in known
        method = _TE_METHODS[k % 3]
        te_m_rows.append([_TE_CODES[k % 3], method, "Type", f"{uin}-{job}"])
    n_valid = len(cert)
    base = n_valid
    for j in range(n_valid // 10):  # filtered by ACTION
        cert.append(cert_row(base + j, str(300_000_000 + j), f"R{j:06d}", "1 - Return",
                             day(0, 365)))
    base += n_valid // 10
    for j in range(n_valid // 10):  # out of window, but inside the freshness bound
        cert.append(cert_row(base + j, str(400_000_000 + j), f"O{j:06d}", "3 - Apply",
                             day(-300, -1)))
    for j in rng.choice(n_valid, size=n_valid // 20, replace=False):
        cert.append(list(cert[int(j)]))  # exact full-row duplicates
    for j in rng.choice(n_valid, size=n_valid // 20, replace=False):
        dup = list(cert[int(j)])  # same UIN+JOB, later TRAN_ID: keep-first drops it
        dup[5] = dup[5].replace("T", "U")
        cert.append(dup)
    order = rng.permutation(len(cert))
    half = len(order) // 2
    _write_csv(f"{out_dir}/cpa_cert_bw.csv", CPA_HEADER, [cert[int(k)] for k in order[:half]])
    _write_csv(f"{out_dir}/cpa_cert_mn.csv", CPA_HEADER, [cert[int(k)] for k in order[half:]])

    # te_m: each code's methods have a clear majority; PUA maps TE M by mode
    majority = {"W": "Web Time Entry", "D": "Dept Time Entry", "T": "Time Clock"}
    for code, method in majority.items():
        others = [m for m in _TE_METHODS if m != method]
        for j in range(6):
            te_m_rows.append([code, method, "Type", f"none-{code}{j}"])
        for j, m in enumerate(others):
            te_m_rows.append([code, m, "Type", f"minor-{code}{j}"])
    # CPA rows keyed by their UIN Job pick up the code k % 3; the mode
    # per code must still be the majority method above
    _write_csv(
        f"{out_dir}/te_m.csv",
        ["TE M", "Time Entry Method", "Time Entry Type", "UIN Job"],
        te_m_rows,
    )
    truth.pua_time_entry = majority
    truth.input_rows = len(pua_rows) + len(cert)
    return truth


# --------------------------------------------------------- documents --


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        ln = int(rng.integers(3, 9))
        words.add("".join(rng.choice(letters, ln)))
    return sorted(words)


def _words(rng: np.random.Generator, vocab: list[str], n: int) -> list[str]:
    # skewed (density ~ 1/sqrt(rank)) content words with stopwords
    # mixed in (the gopher rules need them)
    idx = (len(vocab) * rng.random(n) ** 2).astype(np.int64)
    out = [vocab[int(i)] for i in idx]
    for p in rng.choice(n, size=max(2, n // 8), replace=False):
        out[int(p)] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
    return out


def _render(rng: np.random.Generator, words: list[str]) -> str:
    lines, i = [], 0
    while i < len(words):
        step = int(rng.integers(8, 20))
        lines.append(" ".join(words[i:i + step]))
        i += step
    return "\n".join(lines)


def _mutate(rng: np.random.Generator, vocab: list[str], words: list[str],
            rate: float) -> list[str]:
    out = list(words)
    n = max(1, int(len(out) * rate))
    for p in rng.choice(len(out), size=n, replace=False):
        out[int(p)] = vocab[int(rng.integers(0, len(vocab)))]
    return out


def shingles(text: str, k: int) -> set:
    """k-word shingles over whitespace tokens, as the engine forms them."""
    toks = text.split()
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if (a or b) else 0.0


@dataclass
class DocsTruth:
    exact_survivors: set = field(default_factory=set)  # min id per distinct text
    planted_pairs: set = field(default_factory=set)  # (id_a, id_b), id_a < id_b
    texts: dict = field(default_factory=dict)
    # ids of the normal docs: each is the smallest id of its near-dup
    # cluster, so curation keeps it
    normal: list = field(default_factory=list)


def gen_documents(seed: int, out_dir: str) -> DocsTruth:
    """Curation corpus: 10% of docs are near-dup variants of an earlier
    doc (about 2% of words replaced, Jaccard over 4-shingles ~0.8), 3%
    are exact copies, 10% carry one shared boilerplate block that
    dominates their shingles (one hot LSH bucket whose candidate pairs
    mostly fail verification at Jaccard ~0.4), 5% are too short for the
    gopher rules."""
    rng = rng_for(seed, "documents")
    n_docs = SIZES["docs"]
    vocab = _vocab(rng, 5000)
    boiler = _words(rng, vocab, 60)
    # exact shares, so every seed asks for the same amount of work
    shares = [("variant", 0.10), ("copy", 0.03), ("boiler", 0.10), ("short", 0.05)]
    kinds = ["normal"] * n_docs
    at = 0
    for kind, share in shares:
        kinds[at:at + int(n_docs * share)] = [kind] * int(n_docs * share)
        at += int(n_docs * share)
    kinds = ["normal"] + [kinds[int(i)] for i in rng.permutation(n_docs)[:n_docs - 1]]
    texts: list[str] = []
    words_of: list[list[str]] = []
    planted: list[tuple[int, int]] = []
    for kind in kinds:
        if kind == "variant":  # near-dup of an earlier doc
            src = int(rng.integers(0, len(words_of)))
            w = _mutate(rng, vocab, words_of[src], 0.02)
            planted.append((src, len(texts)))
        elif kind == "copy":
            src = int(rng.integers(0, len(texts)))
            texts.append(texts[src])
            words_of.append(words_of[src])
            continue
        elif kind == "boiler":
            w = boiler + _words(rng, vocab, int(rng.integers(36, 46)))
        elif kind == "short":  # too short for gopher
            w = _words(rng, vocab, int(rng.integers(10, 40)))
        else:
            w = _words(rng, vocab, int(rng.integers(60, 160)))
        texts.append(_render(rng, w))
        words_of.append(w)
    ids = np.arange(1, n_docs + 1, dtype=np.int64) * 7  # sparse, not 0..n-1
    truth = DocsTruth()
    first: dict[str, int] = {}
    for i, t in enumerate(texts):
        first.setdefault(t, int(ids[i]))
    truth.exact_survivors = set(first.values())
    for a, b in planted:
        ia, ib = int(ids[a]), int(ids[b])
        truth.planted_pairs.add((min(ia, ib), max(ia, ib)))
    truth.texts = {int(ids[i]): t for i, t in enumerate(texts)}
    truth.normal = [int(ids[i]) for i, k in enumerate(kinds) if k == "normal"]
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table({"doc_id": pa.array(ids), "text": pa.array(texts)}),
        f"{out_dir}/documents.parquet",
    )
    return truth


@dataclass
class StreamTruth:
    batches: list = field(default_factory=list)  # per batch: [(doc_id, text)]
    planted_cross: set = field(default_factory=set)  # ids that near-dup an earlier batch


def gen_stream(seed: int, out_dir: str) -> StreamTruth:
    """Document batches, one parquet file each, written under
    ``out_dir`` (the staging area the workload moves files out of).
    ~10% of every later batch are near-dup variants (Jaccard over
    3-shingles ~0.9) of docs in earlier batches, ~5% near-dup another
    doc of the same batch; the rest share no 3-shingle structure, so
    every pair is far from the 0.2 threshold on either side."""
    rng = rng_for(seed, "stream")
    vocab = _vocab(rng, 20000)
    truth = StreamTruth()
    earlier: list[list[str]] = []
    next_id = 1_000_000
    os.makedirs(out_dir, exist_ok=True)
    for b in range(SIZES["stream_batches"]):
        rows: list[tuple[int, str]] = []
        words_b: list[list[str]] = []
        for _ in range(SIZES["stream_batch_docs"]):
            r = rng.random()
            if r < 0.10 and earlier:
                w = _mutate(rng, vocab, earlier[int(rng.integers(0, len(earlier)))], 0.01)
                truth.planted_cross.add(next_id)
            elif r < 0.15 and words_b:
                w = _mutate(rng, vocab, words_b[int(rng.integers(0, len(words_b)))], 0.01)
            else:
                w = [vocab[int(i)] for i in rng.integers(0, len(vocab), int(rng.integers(60, 120)))]
            rows.append((next_id, " ".join(w)))
            words_b.append(w)
            next_id += int(rng.integers(1, 4))
        earlier.extend(words_b)
        truth.batches.append(rows)
        pq.write_table(
            pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                      "text": pa.array([r[1] for r in rows])}),
            f"{out_dir}/batch_{b:05d}.parquet",
        )
    return truth


def gen_incoming(seed: int, docs: DocsTruth, out_dir: str) -> StreamTruth:
    """One batch of new documents arriving after the curation corpus,
    as one parquet file under ``out_dir``: ~10% are near-dup variants
    (Jaccard over 3-shingles ~0.9) of the corpus' normal docs, which
    always survive curation, ~5% near-dup another doc of the batch, and
    the rest are drawn from a vocabulary of their own, so every pair is
    far from the ingester's 0.2 threshold on either side."""
    rng = rng_for(seed, "incoming")
    vocab = _vocab(rng, 20000)
    truth = StreamTruth()
    rows: list[tuple[int, str]] = []
    words_b: list[list[str]] = []
    next_id = 1_000_000  # above every corpus id
    for _ in range(SIZES["incoming_docs"]):
        r = rng.random()
        if r < 0.10:
            src = docs.texts[docs.normal[int(rng.integers(0, len(docs.normal)))]]
            w = _mutate(rng, vocab, src.split(), 0.01)
            truth.planted_cross.add(next_id)
        elif r < 0.15 and words_b:
            w = _mutate(rng, vocab, words_b[int(rng.integers(0, len(words_b)))], 0.01)
        else:
            w = [vocab[int(i)] for i in rng.integers(0, len(vocab), int(rng.integers(60, 120)))]
        rows.append((next_id, " ".join(w)))
        words_b.append(w)
        next_id += int(rng.integers(1, 4))
    truth.batches.append(rows)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                  "text": pa.array([r[1] for r in rows])}),
        f"{out_dir}/incoming.parquet",
    )
    return truth


def stream_twin(batches: list, threshold: float = 0.2, k: int = 3,
                preload: list = ()) -> list:
    """Exact-Jaccard twin of the streaming ingester: per batch, keep the
    min id of every within-batch near-dup component, then reject any
    survivor whose Jaccard with an already-accepted doc reaches the
    threshold. ``preload`` rows (doc_id, text) are the corpus an
    index already held before the first batch. Returns the accepted id
    set per batch."""
    sh_of: dict[int, set] = {}
    index: dict[str, set] = {}  # shingle -> accepted doc ids
    accepted: list[set] = []
    for i, t in preload:
        sh_of[i] = shingles(t, k)
        for s in sh_of[i]:
            index.setdefault(s, set()).add(i)
    for rows in batches:
        ids = [i for i, _ in rows]
        for i, t in rows:
            sh_of[i] = shingles(t, k)
        local: dict[str, set] = {}
        for i in ids:
            for s in sh_of[i]:
                local.setdefault(s, set()).add(i)
        parent = {i: i for i in ids}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for i in ids:
            cands = set().union(*(local[s] for s in sh_of[i])) - {i}
            for j in cands:
                if j > i and jaccard(sh_of[i], sh_of[j]) >= threshold:
                    a, b = find(i), find(j)
                    parent[max(a, b)] = min(a, b)
        survivors = [i for i in ids if find(i) == i]
        keep = set()
        for i in survivors:
            cands = set().union(*(index.get(s, set()) for s in sh_of[i]))
            if not any(jaccard(sh_of[i], sh_of[j]) >= threshold for j in cands):
                keep.add(i)
        for i in keep:
            for s in sh_of[i]:
                index.setdefault(s, set()).add(i)
        accepted.append(keep)
    return accepted


# ----------------------------------------------------------- vectors --


@dataclass
class VectorData:
    vectors: np.ndarray  # (n, d) float32, row i has id ids[i]
    ids: np.ndarray
    queries: np.ndarray  # fresh points from the same mixture
    extra: np.ndarray  # vectors the write ops add


def gen_vectors(seed: int, out_dir: str, dim: int = 64) -> VectorData:
    """Gaussian-mixture embeddings (48 components) as a parquet store,
    plus 400 query points and 2,000 vectors for the add ops."""
    rng = rng_for(seed, "vectors")
    n = SIZES["vectors"]
    centers = rng.normal(size=(48, dim)) * 2.0

    def draw(m: int) -> np.ndarray:
        lab = rng.integers(0, len(centers), m)
        return (centers[lab] + rng.normal(size=(m, dim))).astype(np.float32)

    vecs = draw(n)
    ids = np.arange(n, dtype=np.int64) * 3 + 11
    data = VectorData(vecs, ids, draw(400), draw(2000))
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(ids),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.reshape(-1)), dim).cast(pa.list_(pa.float32())),
        }),
        f"{out_dir}/embeddings.parquet",
    )
    return data


def brute_force_top_k(vectors: np.ndarray, ids: np.ndarray, q: np.ndarray,
                      k: int) -> tuple[np.ndarray, np.ndarray]:
    """Cosine top-k in float64 with the engine's tie-break (score desc,
    id asc). Returns (ids, scores)."""
    v = vectors.astype(np.float64)
    qq = q.astype(np.float64)
    s = (v @ qq) / (np.linalg.norm(v, axis=1) * np.linalg.norm(qq))
    order = np.lexsort((ids, -s))[:k]
    return ids[order], s[order]
