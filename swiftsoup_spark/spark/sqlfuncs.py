"""SQL-callable kernel functions (SURVEY §4.3: the optional
FunctionCatalog sugar): after ``register_sql_functions(spark)``, SQL
users can call the extraction kernel without touching the DataFrame
API::

    SELECT url, html_text(html) AS text FROM pages
    SELECT html_select_text(html, 'div#main p') FROM pages
    SELECT html_clean(body, 'basic') FROM fragments

All functions are iterator ``pandas_udf`` kernels: one Python
invocation per task, which first runs the worker prelude
(``spark.worker.prelude``) and then maps each Arrow batch's Series,
never a row at a time. ``html_text``/``html_title``
take the batch through the same tier policy as ``extract_pages``
(C streaming over the Arrow buffers, then the C arena, then the
Python kernel per refused document); the selector/clean functions run
the full kernel per document inside the batch loop (selector
compilation is LRU-cached per worker).
"""

from typing import Iterator, Tuple

import pandas as pd

from swiftsoup_spark.spark.worker import prelude


def _batch_text_title(series, which: int):
    """Series[html] -> Series[text|title] through the text operators'
    one tier policy (``extract._extract_column``). ``which``: 0 = text,
    1 = title."""
    import pyarrow as pa

    from swiftsoup_spark.spark.extract import _extract_column

    out = _extract_column(pa.Array.from_pandas(series))[which].to_pandas()
    out.index = series.index
    return out


def register_sql_functions(spark):
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.StringType())
    def html_text(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        prelude()
        for html in batches:
            yield _batch_text_title(html, 0)

    @pandas_udf(T.StringType())
    def html_title(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        prelude()
        for html in batches:
            yield _batch_text_title(html, 1)

    @pandas_udf(T.ArrayType(T.StringType()))
    def html_select_text(batches: Iterator[Tuple[pd.Series, pd.Series]]
                         ) -> Iterator[pd.Series]:
        prelude()
        from swiftsoup_spark.api import parse
        for html, css in batches:
            yield pd.Series(
                [[el.text() for el in parse(h or "").select(c or "*")]
                 for h, c in zip(html, css)], index=html.index)

    @pandas_udf(T.ArrayType(T.StringType()))
    def html_select_attr(
            batches: Iterator[Tuple[pd.Series, pd.Series, pd.Series]]
    ) -> Iterator[pd.Series]:
        prelude()
        from swiftsoup_spark.api import parse
        for html, css, attr in batches:
            yield pd.Series(
                [[el.attr(a) for el in parse(h or "").select(c or "*")]
                 for h, c, a in zip(html, css, attr)], index=html.index)

    @pandas_udf(T.StringType())
    def html_clean(batches: Iterator[Tuple[pd.Series, pd.Series]]
                   ) -> Iterator[pd.Series]:
        prelude()
        from swiftsoup_spark.clean.cleaner import clean_html
        for html, whitelist in batches:
            yield pd.Series(
                [clean_html(h or "", w or "basic")
                 for h, w in zip(html, whitelist)], index=html.index)

    udfs = {"html_text": html_text, "html_title": html_title,
            "html_select_text": html_select_text,
            "html_select_attr": html_select_attr, "html_clean": html_clean}
    for name, fn in udfs.items():
        spark.udf.register(name, fn)
    return udfs
