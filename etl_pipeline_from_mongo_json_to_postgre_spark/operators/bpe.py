"""Iterative BPE tokenizer training (Sennrich et al., ACL'16) — the
N-merge training loop on top of the single merge step the corpus module
already ships (corpus.text_bpe_merge_step), with the kmeans/pagerank
iteration discipline: fixed rounds, vocab-sized state, metadata-scale
collects, eager lineage cuts (VERDICT r7 task 4).

Scale shape: the corpus is touched EXACTLY once (the word-type count
aggregate); every training round after that runs over the word-type
vocabulary — orders of magnitude smaller than the corpus and shrinking
as merges apply. Per round: one |vocab|-sized adjacent-pair aggregate
(map-side combined, fixed-width keys), one argmax collect of a single
row (same discipline as kmeans' k×d centroid pull), one fold-merge
projection. No pass ever re-reads documents; at 100 TB the type table
for a 1M-type vocabulary is a few MB per executor.

Oracle: EXACT — the whole training loop unrolls to N rounds of CTEs in
DuckDB. Each word type is represented as a string of wrapped symbols
(\\x01 sym \\x02); merging pair (a,b) is then a plain string
``replace`` of the two adjacent wrapped symbols with the wrapped
concatenation. Because every symbol occupies its own closed wrapper,
leftmost non-overlapping replace-all is EXACTLY the greedy
left-to-right merge the engine's array fold performs (no shared-
delimiter consumption, the classic single-space-join bug).

Reference parity: the reference has no tokenizer trainer; this extends
its transform surface with the standard pretraining-pipeline component
(SURVEY.md §2 LLM-data extensions), reusing the corpus module's
tokenizer so gram hashes stay portable.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text import chars, duck_ws_tokens, ws_tokens
from ..sources.parquet import fan_out, load_table

N_MERGES = 6
_W = "\x01"  # symbol open wrapper (never appears in corpus text)
_E = "\x02"  # symbol close wrapper


def _word_types(spark, sf_dir):
    """(syms array<string>, cnt bigint): the word-TYPE vocabulary with
    corpus frequencies — the only corpus-sized pass of the trainer.
    Single-char words can never merge, so they are dropped here (same
    filter as corpus.text_bpe_merge_step)."""
    d = fan_out(spark, load_table(spark, sf_dir, "documents"))
    return (
        d.select(F.explode(ws_tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .where(F.length("w") >= 2)
        .select(chars(F.col("w")).alias("syms"), "cnt")
    )


def _merge_fold(a: str, b: str):
    """Greedy left-to-right merge of adjacent (a, b) into a+b as an
    array fold (closure factory — NOT lambda default args, which pyspark
    HOFs reinterpret as the two-arg (element, index) form)."""
    ab = a + b

    def fold(acc, x):
        last = F.try_element_at(acc, F.lit(-1))  # NULL on empty (ANSI-safe)
        return F.when(
            last.eqNullSafe(F.lit(a)) & (x == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(ab))),
        ).otherwise(F.concat(acc, F.array(x)))

    return fold


def _pair_counts(types):
    """Corpus-weighted counts of adjacent symbol pairs — |alphabet + merges|²
    keys, map-side combined."""
    adj = F.transform(
        F.sequence(F.lit(1), F.size("syms") - 1),
        lambda i: F.slice("syms", i, 2),
    )
    return (
        types.where(F.size("syms") >= 2)
        .select("cnt", F.explode(adj).alias("p"))
        .groupBy(
            F.element_at("p", 1).alias("left_sym"),
            F.element_at("p", 2).alias("right_sym"),
        )
        .agg(F.sum("cnt").alias("pair_count"))
    )


def bpe_train(types, n_merges: int = N_MERGES,
              compute_history: bool = False):
    """Run the merge loop; returns (merge_rows, token_history, types)
    where merge_rows = [(rank, left, right, pair_count)], token_history
    (only when ``compute_history`` — it costs one extra vocab aggregate
    + driver collect per round, which the registry entries don't need;
    same flag discipline as kmeans.train) = corpus token count
    (sum cnt·|syms|) before training and after each merge — strictly
    decreasing while merges apply (each selected pair has
    pair_count > 0, so at least one disjoint application fires) — and
    types is the final ENCODED vocabulary (the corpus segmented by all
    n_merges merges, the tokenizer-apply output)."""
    types = types.localCheckpoint(eager=True)

    def _tokens() -> int:
        return int(types.select(
            F.sum(F.col("cnt") * F.size("syms")).alias("t")
        ).collect()[0]["t"] or 0)

    history = [_tokens()] if compute_history else []
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        top = (
            _pair_counts(types)
            .orderBy(F.desc("pair_count"), "left_sym", "right_sym")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, c = top[0]["left_sym"], top[0]["right_sym"], int(
            top[0]["pair_count"])
        merges.append((rank, a, b, c))
        types = types.select(
            F.aggregate(
                "syms",
                F.array().cast("array<string>"),
                _merge_fold(a, b),
            ).alias("syms"),
            "cnt",
        ).localCheckpoint(eager=True)
        if compute_history:
            history.append(_tokens())
    return merges, history, types


def text_bpe_train(spark, sf_dir):
    """Registry entry: the BPE merge table after N_MERGES training
    rounds — (merge_rank, left_sym, right_sym, pair_count), where
    pair_count is the corpus-weighted adjacent-pair count at selection
    time. EXACT DuckDB oracle (the loop unrolled to CTEs; see module
    docstring for the wrapped-symbol replace equivalence)."""
    merges, _, _ = bpe_train(_word_types(spark, sf_dir))
    return spark.createDataFrame(
        merges,
        schema="merge_rank int, left_sym string, right_sym string, "
               "pair_count bigint",
    )


ENCODE_TOP = 30


def text_bpe_encode(spark, sf_dir):
    """Registry entry: tokenizer APPLY — the corpus segmented by the
    N_MERGES trained merges, summarized as the top-{ENCODE_TOP}
    token census (token, corpus-weighted occurrence count). The final
    merged type table IS the encode output (BPE applies merges in rank
    order to every word; the training loop's last state is exactly
    that), so train + apply share one pass. EXACT DuckDB oracle: the
    same unrolled CTEs, censused over types_{N_MERGES}."""
    _, _, types = bpe_train(_word_types(spark, sf_dir))
    return (
        types.select("cnt", F.explode("syms").alias("token"))
        .groupBy("token")
        .agg(F.sum("cnt").cast("bigint").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "token")
        .limit(ENCODE_TOP)
    )


def _bpe_ctes(n_merges: int = N_MERGES) -> str:
    """The training loop unrolled as a CTE block: types_k = types_{k-1}
    with merge k applied via wrapped-symbol string replace; top_k =
    argmax of the adjacent-pair counts of types_{k-1} (count desc, then
    left, right — the engine's exact tie-break)."""
    w, e = _W, _E
    ctes = [f"""types_0 AS (
        SELECT array_to_string(
                 list_transform(string_split(w, ''),
                                c -> '{w}' || c || '{e}'), '') AS s,
               cnt
        FROM (
            SELECT w, count(*) AS cnt
            FROM (SELECT unnest({duck_ws_tokens()}) AS w FROM documents)
            GROUP BY w HAVING length(w) >= 2
        )
    )"""]
    for k in range(1, n_merges + 1):
        p = k - 1
        ctes.append(f"""syms_{k} AS (
        SELECT regexp_extract_all(s, '{w}([^{e}]+){e}', 1) AS syms, cnt
        FROM types_{p}
    ), pairs_{k} AS (
        SELECT cnt,
               unnest(list_transform(range(1, len(syms)),
                      i -> [syms[i], syms[i+1]])) AS pr
        FROM syms_{k}
    ), top_{k} AS (
        SELECT pr[1] AS l, pr[2] AS r, CAST(sum(cnt) AS BIGINT) AS c
        FROM pairs_{k} GROUP BY pr
        ORDER BY c DESC, l, r LIMIT 1
    ), types_{k} AS (
        -- LEFT JOIN ON TRUE, not CROSS JOIN: when the corpus runs out
        -- of pairs before n_merges, top_k is EMPTY and a cross join
        -- would annihilate the type table (and every later CTE) while
        -- the engine's loop breaks and keeps the last state. With the
        -- left join the row survives and the coalesced pattern chr(3)
        -- (a char no wrapped symbol can contain) makes replace a no-op.
        SELECT replace(t.s,
                       coalesce('{w}' || p.l || '{e}{w}' || p.r || '{e}',
                                chr(3)),
                       coalesce('{w}' || p.l || p.r || '{e}', chr(3)))
                   AS s, t.cnt
        FROM types_{p} t LEFT JOIN top_{k} p ON TRUE
    )""")
    return "WITH " + ",\n    ".join(ctes)


def _bpe_train_sql(n_merges: int = N_MERGES) -> str:
    unions = "\n        UNION ALL ".join(
        f"SELECT CAST({k} AS INTEGER) AS merge_rank, l AS left_sym, "
        f"r AS right_sym, c AS pair_count FROM top_{k}"
        for k in range(1, n_merges + 1)
    )
    return (_bpe_ctes(n_merges)
            + f"\n        {unions}\n        ORDER BY merge_rank")


def _bpe_encode_sql(n_merges: int = N_MERGES) -> str:
    """Same unrolled training CTEs, censused over the FINAL type table
    (= the tokenizer-apply output)."""
    w, e = _W, _E
    return f"""{_bpe_ctes(n_merges)}
        SELECT token, CAST(sum(cnt) AS BIGINT) AS n_occurrences
        FROM (
            SELECT cnt,
                   unnest(regexp_extract_all(s, '{w}([^{e}]+){e}', 1))
                       AS token
            FROM types_{n_merges}
        )
        GROUP BY token
        ORDER BY n_occurrences DESC, token LIMIT {ENCODE_TOP}"""


QUERIES = {
    "text_bpe_train": text_bpe_train,
    "text_bpe_encode": text_bpe_encode,
}

ORACLE_SQL = {
    "text_bpe_train": _bpe_train_sql(),
    "text_bpe_encode": _bpe_encode_sql(),
}
