"""Pure-SQL reference for ``datapipe.text.repetition_stats``.

The product computes every repetition statistic in one Arrow-batched
Python kernel that replicates the JVM's tokenizer semantics. This module
is the independent JVM-side form of the same statistics, used only to
cross-check that kernel (``tests/test_datapipe.py::
test_repetition_arrow_equals_fold``), in the same way
``tests/reference_model.py`` is the reference for the KG fold.

It is built from the product's own Column tokenizers (``ws_tokens`` and
``dedup.shingles``), so it pins the kernel's Python tokenizer to the JVM
one. Grams are compared as literal strings, so two distinct grams can
never be counted as one.

Per gram size the in-row gram stream is sorted (``array_sort``) and one
``aggregate`` fold counts duplicate runs: the max run length is the
top-gram count, and each occurrence beyond the first of a run adds its
gram length to the duplicated-char numerator. The char-coverage columns
sort a position-carrying gram stream, take the positions of occurrences
beyond each gram's first, and walk the word stream once merging the
intervals ``[p, p+n-1]``. All of it is one projection chain: no shuffle,
no explode, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from smartlogic_concordance_transformer_spark.datapipe.dedup import shingles
from smartlogic_concordance_transformer_spark.datapipe.text import ws_tokens


def _dup_frac(items: Column) -> Column:
    """(n - n_distinct) / n over an array — 0 for empty arrays."""
    total = F.size(items)
    return F.round(
        (total - F.size(F.array_distinct(items))) / F.greatest(total, F.lit(1)), 6
    )


def repetition_fold(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    ns: tuple[int, ...] = (2, 3, 4),
    char_dup_ns: tuple[int, ...] = (),
    char_coverage_ns: tuple[int, ...] = (),
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """The columns of ``repetition_stats``, computed by an in-row SQL fold."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.filter(
        F.transform(F.split(c, "\n"), lambda x: F.trim(x)), lambda x: x != ""
    )
    paras = F.filter(
        F.transform(F.split(c, "\n\n"), lambda x: F.trim(x)), lambda x: x != ""
    )
    cols = [
        F.col(key_col),
        *[F.col(x) for x in carry],
        _dup_frac(ws_tokens(c)).alias("dup_word_frac"),
        _dup_frac(lines).alias("dup_line_frac"),
        _dup_frac(paras).alias("dup_para_frac"),
    ]

    def _run_stats(n: int, arr: Column | None = None):
        if arr is None:
            arr = F.array_sort(
                F.transform(
                    shingles(c, k=n, word_grams=True, distinct=False),
                    lambda g: F.struct(
                        g.alias("g"), F.length(g).cast("long").alias("l")
                    ),
                )
            )
        init = F.struct(
            *[
                F.lit(0).cast("long").alias(a)
                for a in ("run", "mx", "dup", "den")
            ],
            F.lit(None).cast("string").alias("prev"),
        )

        def merge(acc, x):
            # run==0 guards the first element, whose prev is null
            new_run = F.when(
                (acc["run"] > F.lit(0)) & (x["g"] == acc["prev"]),
                acc["run"] + F.lit(1),
            ).otherwise(F.lit(1).cast("long"))
            return F.struct(
                new_run.alias("run"),
                F.greatest(acc["mx"], new_run).alias("mx"),
                (
                    acc["dup"]
                    + F.when(new_run > F.lit(1), x["l"]).otherwise(
                        F.lit(0).cast("long")
                    )
                ).alias("dup"),
                (acc["den"] + x["l"]).alias("den"),
                x["g"].alias("prev"),
            )

        return F.aggregate(arr, init, merge), F.size(arr)

    cov = sorted(set(char_coverage_ns))
    work = df
    if cov:
        # the token array, materialized once: a staged column keeps later
        # lambdas from re-evaluating it per element
        work = work.withColumn("_rw0", ws_tokens(c))
        rw = F.col("_rw0")
        for n in cov:
            # position-carrying sorted gram stream — struct (g, l, i) sorts
            # by gram first, so duplicate runs stay adjacent and the first
            # element of a run is the first occurrence in document order.
            # Grams replay `shingles` exactly, including its rule that a
            # doc shorter than n yields one truncated gram.
            # NB: closure factories, not default-arg lambdas — an extra
            # `n=n` default raises the lambda's arity and PySpark reads it
            # as the (element, index) form
            def _gram_at(size: int):
                return lambda i: F.array_join(
                    F.slice(rw, i + F.lit(1), size), " "
                )

            cnt = F.greatest(F.size(rw) - F.lit(n - 1), F.lit(1))
            grams = F.transform(
                F.sequence(F.lit(0), cnt - F.lit(1)), _gram_at(n)
            )
            work = work.withColumn(
                f"_sp{n}",
                F.array_sort(
                    F.transform(
                        grams,
                        lambda g, i: F.struct(
                            g.alias("g"),
                            F.length(g).cast("long").alias("l"),
                            i.cast("long").alias("i"),
                        ),
                    )
                ),
            )
        for n in cov:
            # duplicate-occurrence positions = elements equal to their
            # predecessor in the gram-sorted stream, re-sorted to document
            # order. F.get is 0-based and null out of bounds, so j=0
            # compares against null and drops.
            sp = F.col(f"_sp{n}")

            def _eq_prev(arr: Column):
                return lambda x, j: F.get(arr, j - F.lit(1))["g"] == x["g"]

            work = work.withColumn(
                f"_P{n}",
                F.array_sort(
                    F.transform(
                        F.filter(sp, _eq_prev(sp)), lambda x: x["i"]
                    )
                ),
            )

    stats = {
        n: _run_stats(n, arr=F.col(f"_sp{n}") if n in cov else None)
        for n in sorted(set(ns) | set(char_dup_ns))
    }
    for n in ns:
        st, sz = stats[n]
        cols.append(
            F.round(st["mx"] / F.greatest(sz, F.lit(1)), 6).alias(
                f"top_{n}gram_frac"
            )
        )
    for n in char_dup_ns:
        # an empty doc tokenizes to a single zero-length gram (den = 0)
        st, _ = stats[n]
        cols.append(
            F.round(st["dup"] / F.greatest(st["den"], F.lit(1)), 6).alias(
                f"dup_{n}gram_char_frac"
            )
        )
    if cov:
        rw = F.col("_rw0")
        den = F.greatest(F.length(F.array_join(rw, " ")), F.lit(1))
        wl = F.transform(
            rw,
            lambda w, j: F.struct(
                F.length(w).cast("long").alias("l"), j.cast("long").alias("j")
            ),
        )
        for n in cov:
            # one O(W) walk over the word stream merges the duplicate
            # occurrences' intervals [p, p+n-1]. Positions are unique, so
            # at most one interval opens per word; the accumulator needs a
            # cursor into the sorted position list and the running max end:
            #   word j is covered      iff max(p+n-1 : p <= j)   >= j
            #   separator (j-1, j) is  iff max(p+n-1 : p <= j-1) >= j
            # Spans are word-aligned, so covered word lengths + covered
            # separators is exactly the char-interval union.
            P = F.col(f"_P{n}")
            init = F.struct(
                F.lit(0).cast("long").alias("chars"),
                F.lit(0).cast("int").alias("ptr"),
                F.lit(-1).cast("long").alias("end"),
            )

            def _walk(size: int, pos: Column):
                def merge(acc, x):
                    sep = (
                        F.when(
                            (x["j"] > F.lit(0)) & (acc["end"] >= x["j"]),
                            F.lit(1),
                        )
                        .otherwise(F.lit(0))
                        .cast("long")
                    )
                    hasp = F.coalesce(
                        F.get(pos, acc["ptr"]) == x["j"], F.lit(False)
                    )
                    end2 = F.when(hasp, x["j"] + F.lit(size - 1)).otherwise(
                        acc["end"]
                    )
                    ptr2 = (
                        acc["ptr"]
                        + F.when(hasp, F.lit(1)).otherwise(F.lit(0))
                    ).cast("int")
                    add = F.when(end2 >= x["j"], x["l"]).otherwise(
                        F.lit(0).cast("long")
                    )
                    return F.struct(
                        (acc["chars"] + sep + add).alias("chars"),
                        ptr2.alias("ptr"),
                        end2.alias("end"),
                    )

                return merge

            chars = F.aggregate(
                wl, init, _walk(n, P), lambda a: a["chars"]
            )
            cols.append(
                F.round(chars / den, 6).alias(f"dup_{n}gram_char_coverage")
            )
    return work.select(*cols)
