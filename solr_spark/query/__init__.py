"""Query engine: BM25 scoring, top-k, parser, dismax, MLT, rerank, WAND."""

from solr_spark.query.bm25 import bm25_score_df, bm25_topk  # noqa: F401
from solr_spark.query.dismax import build_multi_index, dismax_search  # noqa: F401
from solr_spark.query.mlt import interesting_terms, more_like_this  # noqa: F401
from solr_spark.query.jsonq import json_query_search  # noqa: F401
from solr_spark.query.parser import parse_query, search  # noqa: F401
from solr_spark.query.rerank import boost_by, frange, rerank  # noqa: F401
from solr_spark.query.payload import payload_check, payload_score  # noqa: F401
from solr_spark.query.phrases_id import phrases_identification  # noqa: F401
from solr_spark.query.simpleq import simple_query  # noqa: F401
from solr_spark.query.suggest import suggest, suggest_infix  # noqa: F401
from solr_spark.query.thinparsers import (  # noqa: F401
    field_query, filters_query, nested_query,
)
from solr_spark.query.wand import open_index  # noqa: F401
