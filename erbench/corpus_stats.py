"""Statistics of a ``documents`` table, to compare the generated
``doc_leaves`` corpus with a real one.

    python3 erbench/corpus_stats.py --parquet PATH/documents.parquet [--head N]
    python3 erbench/corpus_stats.py --generate N --seed S

Run from the repository root. Prints one JSON object: the per-document
figures (length, vocabulary, language shares, planted copies) and the
shape the ER leaves see (block sizes, md5-salted mega-blocks, candidate
pairs, matches, n-gram pairs), computed by the program's own leaves on
``local[4]``. erbench/README.md lists the figures for the sf0.1 table
and for generated corpora.
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]


def document_stats(docs) -> dict:
    words = docs["text"].str.split()
    n_words = words.str.len()
    texts = set(docs["text"])
    first = {}
    for t, lang in zip(docs["text"], docs["lang"]):
        first.setdefault(t, lang)
    copies = docs[docs["text"].str.endswith(" dup")]
    sourced = [(t[:-4], lang) for t, lang in zip(copies["text"], copies["lang"])
               if t[:-4] in texts]
    return {
        "documents": len(docs),
        "words_min_p25_p50_p75_max": [int(n_words.min()),
                                      *n_words.quantile([.25, .5, .75]).tolist(),
                                      int(n_words.max())],
        "vocabulary": len({w for ws in words for w in ws} - {"dup"}),
        "lang_share": {k: round(v, 4) for k, v in
                       docs["lang"].value_counts(normalize=True).items()},
        "sources": int(docs["source"].nunique()),
        "copies": len(copies),
        "copy_chains": int(docs["text"].str.contains("dup dup").sum()),
        "copies_with_source_present": len(sourced),
        "copies_in_source_lang": sum(first[s] == lang for s, lang in sourced),
        "repeated_texts": int(docs["text"].duplicated().sum()),
    }


def leaf_stats(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod
    from go_dedupe_spark.entry_queries import ER_MAX_BLOCK

    q = entry_mod.queries()
    hist = q["er_block_histogram"](spark, sf_dir).agg(
        F.count(F.lit(1)).alias("blocks"),
        F.sum("n_ids").alias("block_rows"),
        F.max("n_ids").alias("max_block"),
        F.sum((F.col("n_ids") > ER_MAX_BLOCK).cast("int")).alias("salted_blocks"),
        F.sum(F.when(F.col("n_ids") > ER_MAX_BLOCK, F.col("n_ids")))
        .alias("salted_block_rows"),
    ).collect()[0].asDict()
    scores = q["er_scores"](spark, sf_dir).agg(
        F.count(F.lit(1)).alias("candidate_pairs"),
        F.sum(F.col("is_match").cast("int")).alias("matches"),
    ).collect()[0].asDict()
    ngram = q["dedup_ngram_jaccard"](spark, sf_dir).count()
    return {**hist, **scores, "ngram_pairs": ngram}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--parquet")
    src.add_argument("--generate", type=int)
    ap.add_argument("--head", type=int, help="keep the first N documents")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    import pandas as pd

    from corpus import make_documents
    from go_dedupe_spark.session import get_spark

    if args.parquet:
        docs = pd.read_parquet(args.parquet)
    else:
        docs, _ = make_documents(args.generate, args.seed)
    if args.head:
        docs = docs.head(args.head)
    stats = document_stats(docs)
    spark = get_spark("corpus-stats", cores=4)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        with tempfile.TemporaryDirectory() as d:
            docs.to_parquet(Path(d) / "documents.parquet", index=False)
            stats.update(leaf_stats(spark, d))
    finally:
        spark.stop()
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    sys.exit(main())
