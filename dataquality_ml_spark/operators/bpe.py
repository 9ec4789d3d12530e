"""Distributed BPE tokenizer training (Sennrich et al. 2016, "Neural
Machine Translation of Rare Words with Subword Units").

Classic BPE trains on the WORD-FREQUENCY table, not the raw corpus — the
corpus-scale work is exactly one map-side-combined ``groupBy(word)``; every
merge iteration afterwards runs over the (distinct words)-sized vocab
relation, which is orders of magnitude smaller than the corpus at 100 TB
(Heaps' law).  Each iteration is: one pair-count aggregation over the vocab
+ a 1-row collect of the argmax pair (model parameters, the sanctioned
driver round-trip) + a narrow ``replace`` projection applying the merge.

Symbol representation: a word is a DOUBLE-separator-delimited symbol
string ``··c··h··a··r··s··</w>··`` — every symbol boundary (including the
word's ends) is exactly two separators.  Applying merge (l, r) is
``replace(word_str, '·l··r·', '·lr·')``: the pattern consumes ONE
separator from each boundary it touches and the replacement restores one,
so the two-separator invariant is preserved AND the boundary shared with
the next potential match keeps a separator for that match to anchor on.
That makes SQL's left-to-right non-overlapping replace equal to BPE's
left-to-right list merge (scan i; merge at (i, i+1) then continue at
i+2) in a SINGLE pass — including back-to-back repeats, the case a
single-separator encoding gets wrong because the match eats the shared
separator: with single seps, ``a a a a`` + merge (a,a) → ``aa a a``
(the separator before the 3rd ``a`` is consumed, so (a3,a4) can't
match), while true BPE gives ``aa aa``.  With double seps every boundary
survives with one separator and ``a a a a`` → ``aa aa`` exactly.  The
anchoring separators still stop matches inside larger symbols (a symbol
char is never adjacent to a separator mid-symbol).  The same string
algebra runs verbatim in DuckDB, which is what makes every step
oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataquality_ml_spark.functions.scalar import tokens
from dataquality_ml_spark.operators.relational import local_frame

SEP = "·"  # '·' — not a whitespace token char, safe separator
EOW = "</w>"


def word_symbol_str(word_col: F.Column) -> F.Column:
    """'chars' → '··c··h··a··r··s··</w>··' (regexp insert, no char-array
    split — identical under Java regex and RE2/DuckDB with the global
    flag).  Double separators at every boundary: see the module docstring
    for why this makes single-pass ``replace`` exactly true BPE."""
    return F.concat(
        F.regexp_replace(word_col, "(.)", SEP + SEP + "$1"),
        F.lit(SEP + SEP + EOW + SEP + SEP),
    )


def bpe_init_vocab(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word_str, cnt) vocab table from the corpus — the one corpus-scale
    pass (explode + map-side-combined groupBy)."""
    t = tokens(text_col)
    return (
        df.select(F.explode(t).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(word_symbol_str(F.col("word")).alias("word_str"), "cnt")
    )


def symbols(word_str_col: F.Column) -> F.Column:
    """word_str → symbol array (split on the separator, drop the empty
    fragments the anchoring separators produce)."""
    return F.filter(F.split(word_str_col, SEP), lambda s: s != "")


def bpe_pair_counts(vocab: DataFrame) -> DataFrame:
    """(lhs, rhs, total) adjacent-symbol-pair counts, weighted by word
    frequency.  Explode + one aggregation — partial-aggregated map-side."""
    s = symbols(F.col("word_str"))
    pairs = vocab.select(
        F.col("cnt"),
        F.explode(
            F.when(
                F.size(s) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(s) - 1),
                    lambda i: F.struct(
                        F.element_at(s, i).alias("lhs"),
                        F.element_at(s, i + 1).alias("rhs"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<lhs:string,rhs:string>>"))
        ).alias("p"),
    )
    return pairs.groupBy("p.lhs", "p.rhs").agg(F.sum("cnt").alias("total"))


def merge_pattern(lhs: str, rhs: str) -> tuple[str, str]:
    """(pattern, replacement) for one merge under the double-separator
    encoding: ``·l··r·`` → ``·lr·`` consumes one separator from each
    boundary and restores one, preserving the ``··`` invariant while
    leaving the shared boundary's other separator for the NEXT
    left-to-right match — single-pass replace == true BPE list merge."""
    return f"{SEP}{lhs}{SEP}{SEP}{rhs}{SEP}", f"{SEP}{lhs}{rhs}{SEP}"


def apply_merge(vocab: DataFrame, lhs: str, rhs: str) -> DataFrame:
    """Apply one merge to the vocab: anchored separator replace."""
    pat, rep = merge_pattern(lhs, rhs)
    return vocab.select(
        F.replace(F.col("word_str"), F.lit(pat), F.lit(rep)).alias("word_str"),
        "cnt",
    )


def bpe_train(
    df: DataFrame,
    num_merges: int = 6,
    text_col: str = "text",
    strategy: str = "auto",
    local_vocab_limit: int = 2_000_000,
) -> list[tuple[int, str, str, int]]:
    """Learn ``num_merges`` BPE merges; returns [(rank, lhs, rhs, count)].

    Ties broken by (count desc, lhs asc, rhs asc) so training is
    deterministic and engine-portable.  Both strategies produce identical
    merges (asserted by a differential test):

    - ``local`` — collect the word-count table (bounded by Heaps' law:
      ~millions of rows for a 100 TB corpus, a few hundred MB — NOT
      corpus-sized) and run the incremental in-memory merge loop.  This is
      how production tokenizer trainers work, and the only viable shape
      for a real 32k-merge vocabulary: the corpus-scale work is exactly
      the one distributed word count.
    - ``distributed`` — one pair-count aggregation + 1-row argmax collect
      per merge over the vocab relation.  Right only when the vocab
      exceeds driver memory AND num_merges is small; kept as the fallback
      and as the cross-check implementation.
    - ``auto`` (default) — local when the distinct-word count fits
      ``local_vocab_limit``, else distributed.
    """
    if strategy not in ("auto", "local", "distributed"):
        raise ValueError("strategy must be auto|local|distributed")
    vocab = bpe_init_vocab(df, text_col).localCheckpoint(eager=True)
    if strategy == "auto":
        strategy = "local" if vocab.count() <= local_vocab_limit else "distributed"
    if strategy == "local":
        words = {r["word_str"]: int(r["cnt"]) for r in vocab.collect()}
        return _bpe_train_inmem(words, num_merges)

    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, num_merges + 1):
        top = (
            bpe_pair_counts(vocab)
            .orderBy(F.desc("total"), "lhs", "rhs")
            .limit(1)
            .collect()
        )
        if not top:
            break
        lhs, rhs, total = top[0]["lhs"], top[0]["rhs"], top[0]["total"]
        merges.append((rank, lhs, rhs, int(total)))
        vocab = apply_merge(vocab, lhs, rhs)
    return merges


def _bpe_train_inmem(
    words: dict[str, int], num_merges: int
) -> list[tuple[int, str, str, int]]:
    """Incremental in-memory BPE over a collected word-count table.

    Pair counts are maintained incrementally: applying a merge re-counts
    only the words that CONTAIN the merged pair (tracked by an inverted
    pair→words index), not the whole vocab — the standard trick that makes
    a 32k-merge run O(total affected occurrences), not
    O(num_merges · vocab).  Same (count desc, lhs, rhs) tie-break as the
    distributed path.
    """
    from collections import Counter, defaultdict

    syms: dict[str, list[str]] = {
        w: [s for s in w.split(SEP) if s] for w in words
    }
    pair_counts: Counter = Counter()
    pair_words: defaultdict[tuple[str, str], set[str]] = defaultdict(set)
    for w, s in syms.items():
        c = words[w]
        for a, b in zip(s, s[1:]):
            pair_counts[(a, b)] += c
            pair_words[(a, b)].add(w)

    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, num_merges + 1):
        if not pair_counts:
            break
        (lhs, rhs), cnt = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        merges.append((rank, lhs, rhs, int(cnt)))
        for w in list(pair_words.get((lhs, rhs), ())):
            old = syms[w]
            c = words[w]
            for a, b in zip(old, old[1:]):
                pair_counts[(a, b)] -= c
                if pair_counts[(a, b)] <= 0:
                    del pair_counts[(a, b)]
                pair_words[(a, b)].discard(w)
            new, i = [], 0
            while i < len(old):
                if i + 1 < len(old) and old[i] == lhs and old[i + 1] == rhs:
                    new.append(lhs + rhs)
                    i += 2
                else:
                    new.append(old[i])
                    i += 1
            syms[w] = new
            for a, b in zip(new, new[1:]):
                pair_counts[(a, b)] += c
                pair_words[(a, b)].add(w)
    return merges


def bpe_merge_df(spark: SparkSession, merges: list[tuple[int, str, str, int]]) -> DataFrame:
    return local_frame(
        spark,
        merges, "merge_rank int, lhs string, rhs string, cnt bigint"
    )


def bpe_segment(
    df: DataFrame,
    merges: list[tuple[int, str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize the corpus with a learned merge list: per token, build the
    symbol string, chain the merges in rank order (a fixed cascade of
    ``replace`` expressions — narrow, codegen-able, no UDF), and report the
    per-doc subword count and chars-per-subword compression.

    100 TB shape: the merge table rides inside the plan as literals (the
    production analogue of broadcasting the tokenizer file); the corpus
    pass is a single explode + one groupBy(doc_id)."""
    t = tokens(text_col)
    ex = df.select(F.col(id_col), F.explode(t).alias("word")).where(
        F.col("word") != ""
    )
    col = word_symbol_str(F.col("word"))
    for _, lhs, rhs, _ in merges:
        pat, rep = merge_pattern(lhs, rhs)
        col = F.replace(col, F.lit(pat), F.lit(rep))
    seg = ex.select(
        id_col,
        F.length("word").alias("n_chars"),
        F.size(symbols(col)).alias("n_sub"),
    )
    return seg.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_sub").alias("n_subwords"),
        F.round(F.sum("n_chars") / F.sum("n_sub"), 4).alias("chars_per_subword"),
    )


def bpe_build_vocab(
    df: DataFrame, merges: list[tuple[int, str, str, int]], text_col: str = "text"
) -> dict[str, int]:
    """symbol → token id.  Base symbols = the corpus's distinct characters
    plus the word-end marker, id-ordered lexicographically (binary
    collation, identical in every engine); merged symbols follow in merge
    rank order — the standard BPE vocab layout.  The distinct-char
    aggregation collects a few dozen rows (alphabet-sized, not corpus-
    sized)."""
    chars = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .where(F.col("w") != "")
        .select(F.explode(F.split(F.col("w"), "")).alias("ch"))
        .where(F.col("ch") != "")
        .distinct()
        .collect()
    )
    base = sorted({r["ch"] for r in chars} | {EOW})
    vocab = {s: i for i, s in enumerate(base)}
    for _, lhs, rhs, _ in merges:
        vocab[lhs + rhs] = len(vocab)
    return vocab


def bpe_tokenize(
    df: DataFrame,
    merges: list[tuple[int, str, str, int]],
    vocab: dict[str, int],
    text_col: str = "text",
    id_col: str = "doc_id",
    unk_id: int = -1,
) -> DataFrame:
    """Corpus → token-id sequences under a trained tokenizer: apply the
    merge cascade per word, explode symbols, map to ids via a broadcast
    vocab join (NOT a giant literal map — the vocab is a relation, which
    scales to 100k+ entries), and reassemble each document's ids in
    (word position, symbol position) order with a sort-free
    array_sort(collect_list(struct)) — no window over the corpus.

    Symbols absent from the vocab (foreign corpus) map to ``unk_id``.
    Output: (id, token_ids array<int>, n_ids).
    """
    spark = df.sparkSession
    vdf = F.broadcast(
        local_frame(spark, list(vocab.items()), "sym string, tid int")
    )
    t = tokens(text_col)
    ex = df.select(
        F.col(id_col), F.posexplode(t).alias("wpos", "word")
    ).where(F.col("word") != "")
    col = word_symbol_str(F.col("word"))
    for _, lhs, rhs, _ in merges:
        pat, rep = merge_pattern(lhs, rhs)
        col = F.replace(col, F.lit(pat), F.lit(rep))
    sym = ex.select(
        id_col, "wpos", F.posexplode(symbols(col)).alias("spos", "sym")
    )
    mapped = sym.join(vdf, "sym", "left").select(
        id_col,
        "wpos",
        "spos",
        F.coalesce(F.col("tid"), F.lit(unk_id)).alias("tid"),
    )
    ordered = F.transform(
        F.array_sort(
            F.collect_list(F.struct("wpos", "spos", "tid"))
        ),
        lambda s: s.getField("tid"),
    )
    return mapped.groupBy(id_col).agg(
        ordered.alias("token_ids"),
        F.count(F.lit(1)).alias("n_ids"),
    )


class BPETokenizer:
    """Trained-tokenizer artifact: merge list + vocab in one JSON document
    (same never-drift-apart rationale as ``FittedDetector``: the merges and
    the id table are only meaningful together)."""

    def __init__(self, merges: list[tuple[int, str, str, int]], vocab: dict[str, int], unk_id: int = -1):
        self.merges = merges
        self.vocab = vocab
        self.unk_id = unk_id

    def tokenize(self, df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
        return bpe_tokenize(df, self.merges, self.vocab, text_col, id_col, self.unk_id)

    def save(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            json.dump(
                {
                    "merges": [list(m) for m in self.merges],
                    "vocab": self.vocab,
                    "unk_id": self.unk_id,
                },
                f,
            )

    @classmethod
    def load(cls, path: str) -> "BPETokenizer":
        import json

        with open(path) as f:
            d = json.load(f)
        return cls(
            merges=[tuple(m) for m in d["merges"]],
            vocab=d["vocab"],
            unk_id=d["unk_id"],
        )


def train_tokenizer(
    df: DataFrame, num_merges: int = 6, text_col: str = "text"
) -> BPETokenizer:
    """Full tokenizer lifecycle entry: learn merges, build the vocab, wrap
    both in the persistable artifact."""
    merges = bpe_train(df, num_merges, text_col)
    return BPETokenizer(merges, bpe_build_vocab(df, merges, text_col))
