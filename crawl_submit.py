"""spark-submit entry file (spark-submit cannot use `-m`):

    python scripts/build_zip.py
    spark-submit --master ... --py-files lectura.zip crawl_submit.py \
        --corpus /path/corpus --warehouse /path/wh --rounds 3 --use-bloom
"""

from lectura.crawl import main

if __name__ == "__main__":
    main()
