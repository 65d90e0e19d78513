"""Column-expression library: vector math and text primitives.

All functions here return Catalyst ``Column`` expressions evaluated
JVM-side — no Python UDFs. The higher-order functions among them
(``transform``, ``aggregate``) have no code generation of their own and
run interpreted inside the generated stage. This is the engine's
replacement for the reference's NumPy/FAISS kernels (SURVEY §2.2,
§4.3.1).
"""

from .vector import (  # noqa: F401
    cosine_sim,
    dot,
    l2_dist,
    l2_dist_sq,
    l2_norm,
    l2_normalize,
    to_double_array,
)
from .text import (  # noqa: F401
    hex_prefix_to_long,
    token_shingles,
    tokens,
)
