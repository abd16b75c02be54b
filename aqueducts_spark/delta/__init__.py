from .table import DeltaLayer, delta_layer

__all__ = ["DeltaLayer", "delta_layer"]
