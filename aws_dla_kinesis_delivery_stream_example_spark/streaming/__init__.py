from .transform import DropIt, apply_transform
from .delivery import DeliveryPipeline, DeliveryResult

__all__ = [
    "DropIt",
    "apply_transform",
    "DeliveryPipeline",
    "DeliveryResult",
]
