from .text import clean_text_col, normalize_key_col  # noqa: F401
from .vectors import cosine_sim, dot, l2_norm  # noqa: F401
from .scoring import minmax_normalize_100  # noqa: F401
