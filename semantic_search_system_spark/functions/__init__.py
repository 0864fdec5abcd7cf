from .text import clean_text_col, normalize_key_col, tokens_col, content_tokens  # noqa: F401
from .vectors import cosine_sim, dot, l2_normalize, l2_norm  # noqa: F401
from .scoring import minmax_normalize_100  # noqa: F401
