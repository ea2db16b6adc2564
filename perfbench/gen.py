"""Seeded input generators. The same seed gives byte-identical inputs.

Every generator returns plain files (CSV or parquet) plus the planted
facts the output checks need, so no check ever reads the package's
own results to decide what is right.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EN_STOP = ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")


def stocks_csv(path: str, seed: int, tickers: int, days: int, bad_share: float) -> dict:
    """Reference-format daily OHLCV CSV (``Date,Ticker,Open,High,Low,
    Close,Adj Close,Volume``): geometric random-walk closes over
    ``days`` business days per ticker, with a planted share of rows
    made malformed (non-numeric price or a truncated line)."""
    rng = np.random.default_rng(seed)
    dates = pd.bdate_range("2015-01-02", periods=days)
    names = [f"T{i:04d}" for i in range(tickers)]
    start = rng.uniform(20.0, 500.0, tickers)
    steps = rng.normal(0.0003, 0.015, (tickers, days))
    close = np.round(start[:, None] * np.exp(np.cumsum(steps, axis=1)), 4)
    spread = np.abs(rng.normal(0.0, 0.01, (tickers, days)))
    frame = pd.DataFrame(
        {
            "Date": np.tile(dates.strftime("%Y-%m-%d"), tickers),
            "Ticker": np.repeat(names, days),
            "Open": np.round(close * (1 + rng.normal(0, 0.005, close.shape)), 4).ravel(),
            "High": np.round(close * (1 + spread), 4).ravel(),
            "Low": np.round(close * (1 - spread), 4).ravel(),
            "Close": close.ravel(),
            "Adj Close": np.round(close * 0.98, 4).ravel(),
            "Volume": rng.integers(10_000, 5_000_000, close.size).astype(float),
        }
    )
    lines = frame.to_csv(index=False, header=False, float_format="%.4f").splitlines()
    n = len(lines)
    bad = np.sort(rng.choice(n, int(n * bad_share), replace=False))
    for j, i in enumerate(bad):
        cells = lines[i].split(",")
        if j % 2:
            cells[2] = "n/a"  # non-numeric Open
            lines[i] = ",".join(cells)
        else:
            lines[i] = ",".join(cells[:4])  # truncated row
    with open(path, "w") as fh:
        fh.write(",".join(frame.columns) + "\n")
        fh.write("\n".join(lines) + "\n")
    good = frame.drop(index=bad).reset_index(drop=True)
    return {"rows": n, "bad": len(bad), "good": good, "bytes": os.path.getsize(path)}


def events_parquet(path: str, seed: int, rows: int) -> None:
    """The ``events`` table the dashboard keys read, in the reference
    testdata's layout: one month of second-resolution events over five
    event types (the dashboards' series keys)."""
    rng = np.random.default_rng(seed)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, rows))
    table = pa.table(
        {
            "event_id": pa.array(np.arange(rows, dtype=np.int64)),
            "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, rows, dtype=np.int64)),
            "event_type": pa.array(
                rng.choice(["view", "click", "purchase", "signup", "error"], rows)
            ),
            "value": pa.array(np.round(rng.exponential(50.0, rows), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)]),
        }
    )
    pq.write_table(table, path)


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(4, 10, size)
    words = {"".join(rng.choice(letters, n)) for n in lens}
    return np.array(sorted(words - set(EN_STOP)))


def _sentence(rng, vocab, probs, n_words: int) -> list[str]:
    content = rng.choice(vocab, n_words, p=probs)
    stops = rng.choice(EN_STOP, n_words)
    mask = rng.random(n_words) < 0.3
    return list(np.where(mask, stops, content))


def corpus_docs(path: str, seed: int, n_docs: int) -> dict:
    """Training-corpus input: documents drawn from a Zipf-weighted
    pseudo-word vocabulary mixed with English stopwords (so the quality
    and language gates pass), with planted shares of low-quality,
    exact-duplicate and benchmark-contaminated documents, over
    Zipf-skewed sources (so a per-source cap bites).

    Returns the benchmark (eval-set) texts and the planted id groups."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 4000)
    probs = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    probs /= probs.sum()
    bench_texts = [" ".join(_sentence(rng, vocab, probs, 40)) for _ in range(12)]

    texts: list[str] = []
    n_low = n_docs // 20
    n_exact = n_docs // 25
    n_contam = n_docs // 50
    n_base = n_docs - n_low - n_exact - n_contam
    for _ in range(n_base):
        texts.append(" ".join(_sentence(rng, vocab, probs, int(rng.integers(40, 110)))) + ".")
    exact_of = rng.choice(n_base, n_exact, replace=False)
    for src in exact_of:
        texts.append(texts[src])
    for _ in range(n_contam):
        bench = bench_texts[int(rng.integers(len(bench_texts)))].split(" ")
        at = int(rng.integers(0, len(bench) - 12))
        words = _sentence(rng, vocab, probs, 30) + bench[at : at + 12]
        words += _sentence(rng, vocab, probs, 30)
        texts.append(" ".join(words) + ".")
    for _ in range(n_low):
        junk = rng.integers(0, 10**6, int(rng.integers(3, 12)))
        texts.append(" ".join(f"{v} !!" for v in junk))

    n = len(texts)
    src_w = 1.0 / np.arange(1, 21) ** 1.2
    sources = rng.choice([f"src{k}" for k in range(20)], n, p=src_w / src_w.sum())
    frame = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": "en",
            "source": sources,
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), path)
    return {
        "docs": n,
        "bench_texts": bench_texts,
        "exact_pairs": [(int(s), n_base + k) for k, s in enumerate(exact_of)],
        "contam_ids": list(range(n_base + n_exact, n_base + n_exact + n_contam)),
        "low_ids": list(range(n - n_low, n)),
    }
