from .try_pair import try_pair  # noqa: F401
from .vectors import cosine_similarity, dot, l2_norm  # noqa: F401
from .text import tokens, shingles  # noqa: F401
