from .binary_ops import (  # noqa: F401
    attach_fake_payload,
    extract_byte_features,
    frame_sample_stub,
)
