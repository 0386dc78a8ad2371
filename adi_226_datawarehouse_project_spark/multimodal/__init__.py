from .binary_ops import (
    attach_binary_payload,
    decode_audio_stub,
    decode_image_stub,
    resize_image_stub,
)

__all__ = [
    "attach_binary_payload",
    "decode_audio_stub",
    "decode_image_stub",
    "resize_image_stub",
]
