"""The engine through pure SQL: register the macro vocabulary
(``sqlfuncs.register_sql_functions``) and run a small curation query —
fingerprint-dedup'd, quality-gated, PII-scrubbed corpus stats — as one
``spark.sql`` statement.  Every function is a declarative SQL UDF
(macro-expanded into the plan, whole-stage-codegen, no Python tax), so
this is the SQL-only user's path to the same operators the DataFrame
API exposes.

Run: python examples/sql_surface.py [sf_dir]   (default sf0.001)
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from smartpipeline_spark import get_spark, sources
from smartpipeline_spark.sqlfuncs import register_sql_functions


def main(sf_dir: str) -> None:
    spark = get_spark("sql-surface-example")
    register_sql_functions(spark)
    sources.table(spark, "documents", sf_dir).createOrReplaceTempView("documents")
    out = spark.sql(
        """WITH canon AS (
             SELECT doc_id, lang,
                    doc_fingerprint(text) AS fp,
                    ws_token_count(text) AS n_tokens,
                    quality_score(text) AS quality,
                    redact_pii(text) AS clean
             FROM documents),
           kept AS (  -- exact dedup: keep the lowest doc_id per fingerprint
             SELECT * FROM (
               SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS keep_id
               FROM canon)
             WHERE doc_id = keep_id AND quality >= 0.5)
           SELECT lang,
                  COUNT(*) AS n_docs,
                  SUM(n_tokens) AS n_tokens,
                  FLOOR(AVG(quality) * 100 + 0.5) / 100 AS avg_quality
           FROM kept GROUP BY lang ORDER BY lang"""
    )
    out.show(truncate=False)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001")
