from nutch_spark.urls.normalizer import (  # noqa: F401
    basic_normalize,
    normalize,
    normalize_col,
    normalize_udf,
    regex_normalize,
)
from nutch_spark.urls.filters import RegexURLFilter, default_filter, url_filter_udf  # noqa: F401
from nutch_spark.urls.urlutil import (  # noqa: F401
    domain_expr,
    get_domain,
    get_host,
    host_expr,
    java_hashcode_expr,
    java_string_hashcode,
    nutch_url_hash32,
    partition_hash_udf,
    url_hash32_udf,
)
