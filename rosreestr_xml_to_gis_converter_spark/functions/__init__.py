"""Vectorized kernels + column-function library.

``geometry``: numpy polygon kernels (the only per-row work the engine does
outside the JVM, and it is always Arrow-batched).
``text``: reference string/date semantics as pure Column expressions.
``imaging``: pure-python image codecs (PNG; JPEG via ``jpeg``) behind the
``decode_image``/``encode_image`` seam; ``codec_backend`` swaps in Pillow.
``xxhash``: Spark's XXH64 in numpy, bit-identical to ``F.xxhash64``.
"""
