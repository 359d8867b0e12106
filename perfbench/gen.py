"""Seeded input generators and their ground truth.

Everything here is plain Python/NumPy: the same seed gives the same
inputs, and the program under test only ever sees the generated rows
(after the benchmark encodes them with the program's own codec). Each
generator also returns what a correct program must output, which the
workloads compare against.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd

# -- bus_batch --------------------------------------------------------------

ORDER_T = "bench.Order"
PRICED_T = "bench.Order.priced"
TASK_T = "bench.Task"
DONE_T = "bench.Task.done"
UNROUTABLE_T = "bench.Refund"  # no stream is registered for it
DEAD_LETTER_T = "typebus.DeadLetter"
TASK_MAX_ATTEMPTS = 2
# share of tasks by the number of times the handler fails them; a task
# failing more than TASK_MAX_ATTEMPTS times exhausts its retries
TASK_FAIL_SHARES = {0: 0.70, 1: 0.12, 2: 0.10, 3: 0.08}
MALFORMED_VALUE = b'{"meta": {"event_id": "truncated'


def zipf_keys(rng: np.random.Generator, n: int, n_keys: int, a: float = 1.3):
    """n keys in [0, n_keys) whose frequency follows a Zipf law."""
    return (rng.zipf(a, n) - 1) % n_keys


def bus_batch(seed: int, n_orders: int, n_tasks: int, n_users: int = 50_000):
    """One reprocessing batch: orders (Zipf users), retrying tasks,
    unroutable events and malformed JSON. Returns pandas frames per kind
    plus the expected ``(topic, class) -> count`` of the drained output
    and the expected sum of priced order totals."""
    rng = np.random.default_rng(seed)
    users = zipf_keys(rng, n_orders, n_users)
    qty = rng.integers(1, 10, n_orders)
    cents = rng.integers(100, 100_000, n_orders)
    orders = pd.DataFrame(
        {
            "order_id": np.arange(n_orders, dtype=np.int64),
            "user_id": [f"u{u}" for u in users.tolist()],
            "qty": qty.astype(np.int32),
            "price": cents / 100.0,
        }
    )
    fails = rng.choice(
        list(TASK_FAIL_SHARES), n_tasks, p=list(TASK_FAIL_SHARES.values())
    )
    tasks = pd.DataFrame(
        {
            "task_id": np.arange(n_tasks, dtype=np.int64),
            "fail_times": fails.astype(np.int32),
        }
    )
    n_unroutable = max(1, n_orders * 3 // 100)
    unroutable = orders.iloc[:n_unroutable]
    n_malformed = max(1, (n_orders + n_tasks) // 100)

    expected = Counter()
    expected[(PRICED_T, None)] = n_orders
    for f, n in zip(*np.unique(fails, return_counts=True)):
        if f <= TASK_MAX_ATTEMPTS:
            expected[(DONE_T, str(int(f)))] += int(n)
        else:
            expected[(DEAD_LETTER_T, "handler failed")] += int(n)
    expected[(DEAD_LETTER_T, "no handler for topic")] = n_unroutable
    expected[(DEAD_LETTER_T, "undecodable payload")] = n_malformed
    total = float(np.sum(qty * cents)) / 100.0
    return {
        "orders": orders,
        "tasks": tasks,
        "unroutable": unroutable,
        "n_malformed": n_malformed,
        "events": n_orders + n_tasks + n_unroutable + n_malformed,
        "expected": expected,
        "priced_total": total,
    }


# -- service_stream -----------------------------------------------------------

QUOTE_T = "bench.Quote"
QUOTE_REPLY_T = "bench.Quote.reply"
ACCOUNT_T = "bench.Account"
ACCOUNT_GET_T = "bench.Account.get"
CLIENT_TOPIC = "bench-client"
QUOTE_SHARE = 0.7
TIERS = ("bronze", "silver", "gold")


def accounts(seed: int, n_accounts: int):
    """Entity snapshot rows ``(id, tier, balance)``."""
    rng = np.random.default_rng(seed + 1)
    tiers = rng.integers(0, len(TIERS), n_accounts)
    bal = rng.integers(0, 1_000_000, n_accounts)
    return [
        (f"a{i}", TIERS[int(t)], int(b) / 100.0)
        for i, (t, b) in enumerate(zip(tiers, bal))
    ]


def service_requests(seed: int, first_seq: int, n: int, n_accounts: int):
    """Requests numbered ``first_seq..first_seq+n-1``: about 70% quote
    RPCs, the rest account lookups with Zipf keys. Returns
    ``(quotes, lookups)``: quote rows ``(seq, user_id, qty, unit_price)``
    and lookup rows ``(id, seq)``."""
    rng = np.random.default_rng(seed)
    is_quote = rng.random(n) < QUOTE_SHARE
    keys = zipf_keys(rng, n, n_accounts)
    qty = rng.integers(1, 20, n)
    cents = rng.integers(100, 10_000, n)
    quotes, lookups = [], []
    for j in range(n):
        seq = first_seq + j
        if is_quote[j]:
            quotes.append((seq, f"a{int(keys[j])}", int(qty[j]), int(cents[j]) / 100.0))
        else:
            lookups.append((f"a{int(keys[j])}", seq))
    return quotes, lookups


# -- corpus_curation ----------------------------------------------------------

STOP = ("the", "a", "and", "of", "to", "in", "is", "it")
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    words = set()
    while len(words) < n:
        k = int(rng.integers(3, 9))
        words.add("".join(rng.choice(LETTERS, k)))
    return sorted(words - set(STOP))


def _doc(rng: np.random.Generator, vocab: list[str], n_words: int) -> list[str]:
    """Words from ``vocab`` with about 20% stop words, and never fewer
    than two (the quality gate asks for two)."""
    out = []
    for i in range(n_words):
        if i in (1, 3) or rng.random() < 0.2:
            out.append(STOP[int(rng.integers(len(STOP)))])
        else:
            out.append(vocab[int(rng.integers(len(vocab)))])
    return out


def corpus(
    seed: int,
    n_unique: int,
    n_exact_families: int,
    n_near_families: int,
    n_low_quality: int,
    n_vectors: int,
    n_clusters: int,
    dim: int,
    n_queries: int,
):
    """Documents with planted exact-duplicate and near-duplicate families
    and low-quality rejects, plus embeddings in planted clusters.

    Exact copies differ only in case and spacing (the normalizer folds
    them); near-duplicates share a document except its last word, so
    their word-8-gram Jaccard is above 0.9 while unrelated documents
    share no 8-gram. Returns docs ``(id, text)``, vectors ``(id, vec)``,
    query ids and the ground truth."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 4_000)
    docs: list[tuple[int, str]] = []
    next_id = iter(range(10**9)).__next__

    for _ in range(n_unique):
        docs.append((next_id(), " ".join(_doc(rng, vocab, int(rng.integers(30, 60))))))
    exact_groups = []  # sorted id lists
    for _ in range(n_exact_families):
        text = " ".join(_doc(rng, vocab, int(rng.integers(30, 60))))
        copies = [text, text.replace(" ", "  "), text.upper()]
        ids = []
        for c in copies[: int(rng.integers(2, 4))]:
            ids.append(next_id())
            docs.append((ids[-1], c))
        exact_groups.append(sorted(ids))
    near_groups = []
    for _ in range(n_near_families):
        base = _doc(rng, vocab, int(rng.integers(30, 60)))
        ids = []
        last = rng.choice(len(vocab), int(rng.integers(2, 5)), replace=False)
        for w in last:
            words = base[:-1] + [vocab[int(w)]]
            ids.append(next_id())
            docs.append((ids[-1], " ".join(words)))
        near_groups.append(sorted(ids))
    low = []
    for _ in range(n_low_quality):
        low.append(next_id())
        docs.append((low[-1], " ".join(_doc(rng, vocab, int(rng.integers(3, 12))))))
    order = rng.permutation(len(docs))
    docs = [docs[i] for i in order]

    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    cluster_of = rng.integers(0, n_clusters, n_vectors)
    vecs = centers[cluster_of] + rng.normal(scale=0.03, size=(n_vectors, dim))
    vectors = [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)]
    queries = sorted(int(q) for q in rng.choice(n_vectors, n_queries, replace=False))

    n_near_members = sum(len(g) for g in near_groups)
    return {
        "docs": docs,
        "vectors": vectors,
        "queries": queries,
        "truth": {
            "low_quality": set(low),
            "exact_groups": exact_groups,
            "near_groups": near_groups,
            "kept": len(docs) - len(low),
            "near_pairs": sum(len(g) * (len(g) - 1) // 2 for g in near_groups),
            "near_members": n_near_members,
            "cluster_of": {int(i): int(c) for i, c in enumerate(cluster_of)},
        },
    }
