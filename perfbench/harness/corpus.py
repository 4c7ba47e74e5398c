"""Seeded word-count corpus: Zipf-distributed words with a long tail.

The same seed gives byte-identical files and the same ground truth. Only
uniform doubles are drawn from numpy's PCG64 generator and every other
choice is derived from them by arithmetic, so the output does not depend
on numpy's sampling algorithms.

The vocabulary and its ranks are fixed; the seed draws the token stream
and the search term. Which reducer a word lands on depends only on the
word, so with a fixed vocabulary the hot keys fall on the same reducers
for every seed and the reduce skew is a property of the workload, not of
the draw.

The word-frequency law is measured English's: Zipf's exponent s = 1
(G. K. Zipf, Human Behavior and the Principle of Least Effort, 1949;
S. T. Piantadosi, "Zipf's word frequency law in natural language: a
critical review and future directions", Psychonomic Bulletin & Review
21(5), 2014) over the vocabulary of the Brown Corpus, 50,406 distinct words
in 1,014,232 tokens (H. Kucera and W. N. Francis, Computational Analysis of
Present-Day American English, 1967). The law gives the top word 8.8 % of
tokens and the second 4.4 %; the Brown Corpus measured 6.9 % ("the") and
3.6 % ("of"). A 10 MB corpus is about 1.5 million tokens, near the
Brown Corpus's 1.0 million.

Not measured, assumptions of this generator: word lengths (2 to 10
letters, uniform, unrelated to rank), which vocabulary entries are
capitalized (5 %) or carry a comma (3 %), the separators (3 % tabs, 2 %
doubled spaces) and 12 tokens per line. They shape the tokenizer's work,
not the key frequencies.

Tokens follow the engine's word model (`WordCount.tokenize`): split on
runs of space, tab, CR and LF; case and punctuation are kept, so `word`,
`Word` and `word,` are three keys. Separators are mostly one space, with
some tabs and doubled spaces, so consecutive delimiters occur.
"""
import json
import os

import numpy as np

VOCAB = 50_406           # distinct words of the Brown Corpus (see above)
VOCAB_SEED = 20_250_101
ZIPF_S = 1.0
PARAMS = {"vocab": VOCAB, "vocab_seed": VOCAB_SEED, "zipf_s": ZIPF_S}
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
TOKENS_PER_LINE = 12


def _vocabulary(u):
    """VOCAB distinct ASCII words from uniform draws u (shape VOCAB x 12)."""
    lengths = 2 + (u[:, 0] * 9).astype(np.int64)               # 2..10 letters
    letters = LETTERS[(u[:, 1:11] * 26).astype(np.int64)]
    words = ["".join(row[:n]) for row, n in zip(letters, lengths)]
    variant = u[:, 11]                                          # some capitalized or punctuated
    out, seen = [], set()
    for i, w in enumerate(words):
        if variant[i] < 0.05:
            w = w.capitalize()
        elif variant[i] < 0.08:
            w = w + ","
        while w in seen:                                        # keep ranks distinct
            w = w + "x"
        seen.add(w)
        out.append(w)
    return out


def generate(seed, out_dir, target_bytes, files):
    """Write `files` corpus files of about `target_bytes` in total to
    out_dir and return the ground truth (also written as truth.json)."""
    vocab = _vocabulary(np.random.Generator(np.random.PCG64(VOCAB_SEED)).random((VOCAB, 12)))
    rng = np.random.Generator(np.random.PCG64(seed))
    weights = 1.0 / np.arange(1, VOCAB + 1, dtype=np.float64) ** ZIPF_S
    cdf = np.cumsum(weights) / weights.sum()
    mean_len = sum(len(w) * p for w, p in zip(vocab, np.diff(cdf, prepend=0.0))) + 1.0
    n_tokens = int(target_bytes / mean_len)
    ranks = np.minimum(np.searchsorted(cdf, rng.random(n_tokens), side="right"), VOCAB - 1)
    seps = np.where(rng.random(n_tokens) < 0.03, "\t", " ")
    seps[rng.random(n_tokens) < 0.02] = "  "
    seps[TOKENS_PER_LINE - 1::TOKENS_PER_LINE] = "\n"
    seps[-1] = "\n"

    os.makedirs(out_dir, exist_ok=True)
    paths, per_file = [], -(-n_tokens // files)
    for f in range(files):
        lo, hi = f * per_file, min(n_tokens, (f + 1) * per_file)
        part = "".join(vocab[r] + s for r, s in zip(ranks[lo:hi].tolist(), seps[lo:hi].tolist()))
        if not part.endswith("\n"):
            part += "\n"
        path = os.path.join(out_dir, f"part-{f:03d}.txt")
        with open(path, "w", encoding="ascii", newline="") as fh:
            fh.write(part)
        paths.append(path)

    counts = np.bincount(ranks, minlength=VOCAB)
    present = np.flatnonzero(counts)
    top = sorted(((vocab[r], int(counts[r])) for r in present),
                 key=lambda wc: (-wc[1], wc[0]))[:10]
    # the search term: a seeded mid-frequency word that occurs
    mid = present[(present >= 100) & (present < 1000)]
    term_rank = int(mid[int(rng.random() * len(mid))])
    truth = {
        "seed": seed,
        "params": PARAMS,
        "files": [os.path.basename(p) for p in paths],
        "bytes": sum(os.path.getsize(p) for p in paths),
        "total": int(n_tokens),
        "distinct": int(len(present)),
        "top": [[w, c] for w, c in top],
        "term": vocab[term_rank],
        "term_count": int(counts[term_rank]),
    }
    with open(os.path.join(out_dir, "truth.json"), "w") as fh:
        json.dump(truth, fh)
    return truth
