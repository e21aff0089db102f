from iresearch_spark.codec.varint import encode_varints, decode_varints  # noqa: F401
from iresearch_spark.codec.postings import (  # noqa: F401
    encode_payloads_batch,
    encode_span_payloads_batch,
    decode_payloads,
)
