"""XML node extraction as Arrow-batched pandas UDFs.

The reference pulls abstracts and PMC full text out of E-Utilities XML
with ``xml.etree`` XPath (reference: knowledge_model/ingestion/
fetch_pubmed.py:187-219 `_efetch_abstract` joins ``AbstractText`` node
texts; :222-272 `_efetch_pmc_fulltext` joins ``.//body//p`` paragraphs
with blank lines).  Spark has no XML builtin (spark-xml is an external
package), so the same XPath-join semantics run in a pandas UDF —
per-document parse, Arrow-batched, executor-parallel.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _extract_series(xml_strings, xpath: str):
    import xml.etree.ElementTree as ET

    import pandas as pd

    def one(x):
        if x is None:
            return None
        try:
            root = ET.fromstring(x)
        except ET.ParseError:
            return None
        parts = [
            "".join(node.itertext()).strip()
            for node in root.findall(xpath)
        ]
        parts = [p for p in parts if p]
        return "\n\n".join(parts) if parts else None

    return pd.Series([one(x) for x in xml_strings])


def xml_text_join(col: Column, xpath: str) -> Column:
    """Join the text of every node matching ``xpath``, in document order,
    with blank lines.

    ``xml_text_join(c, ".//body//p")`` reproduces the reference's PMC
    full-text extraction.  Malformed XML → NULL (dead-letter
    filterable), matching the reference's quarantine-on-failure.
    """
    return F.pandas_udf(lambda s: _extract_series(s, xpath), "string")(col)
