"""spark-submit job entry (north_rule deployment form).

    python tools/make_submit_zip.py
    spark-submit --master <cluster> --py-files dist/hppse.zip \
        --conf spark.sql.codegen.cache.maxEntries=1000 \
        tools/submit_crawl.py -c URL -d 3 -p 100000 --no-clamp \
        --pages-table s3://bucket/pages --workdir s3://bucket/crawl

The session is taken from spark-submit's own conf (getOrCreate with no
master override) - the CLI flags are the same contract as
`python -m high_performance_parallel_search_engine_spark`. This path takes
none of session.build_session's defaults, so pass the ones that matter as
--conf. The codegen cache size is a static conf, fixed when the JVM
starts: at Spark's default of 100 entries the generated classes of a
2-round exact crawl (132-142) evict each other, so a repeated crawl
recompiles them instead of reusing them.
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession


def main() -> int:
    from high_performance_parallel_search_engine_spark.__main__ import (
        main as cli_main,
    )

    spark = SparkSession.builder.appName("hppse-crawl").getOrCreate()
    return cli_main(sys.argv[1:], spark=spark)


if __name__ == "__main__":
    sys.exit(main())
